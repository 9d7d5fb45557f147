"""Similarity search over embedding columns (north-star extension;
``embeddings`` table: vec_id bigint, embedding array<float>, label int).

- ``cosine`` / ``dot``: pure Column expressions (zip_with + aggregate)
  — JVM-side, no Python. Elements are cast to double first so Spark and
  the DuckDB oracle fold in identical IEEE double arithmetic
  (left-to-right over the array).
- Every kNN path is its own candidate step (cross join, LSH bucket,
  IVF cell from ``probe_cells``, shortlist) plus one shared exact
  step: ``cosine_pairs`` scores the pairs, ``top_k_neighbors`` ranks
  them per query (via ``ops/sort.top_k_per_group``).
- ``knn_bruteforce`` is the exact baseline; ``knn_lsh`` scores only
  vectors sharing a random-hyperplane bucket. Hyperplanes are
  deterministic (md5-seeded ±1 component signs) so results are
  reproducible and oracle-checkable.

Scale notes (100 TB): brute force is O(N·Q·d) but embarrassingly
parallel with a broadcast query set — fine for Q ≲ 10^3. For large Q or
ANN latency, the LSH variant reduces candidates by ~bucket_count×; a
production IVF would replace the deterministic hyperplanes with trained
centroids, same plan shape (assign → co-partition → per-bucket scoring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hops_spark.ops.litfast import lit_array
from hops_spark.ops.sort import top_k_per_group


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i, folded left-to-right in double (deterministic)."""
    return F.aggregate(F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with precomputed norms ``na = norm(a)``,
    ``nb = norm(b)`` — the identical ``dot/(na*nb)`` doubles bit for
    bit (same fold expressions, same operand order). The point is
    WHERE the norms are evaluated: hoisted into a projection below
    the join, each side's norm fold runs once per input row instead
    of once per joined pair, cutting the per-pair HOF work from three
    array folds to one (guide §1.2 step 2: per-task work)."""
    return dot(a, b) / (na * nb)


def _py_fold_norm(vec: list[float]) -> float:
    """Driver-side twin of ``norm()`` for plan-time literal vectors:
    the same left-to-right 0.0-seeded fold in IEEE doubles, so the
    result is bit-identical to evaluating the Column expression on
    the same values (Python floats ARE doubles; both sqrt
    implementations are correctly rounded)."""
    import math

    acc = 0.0
    for x in vec:
        x = float(x)
        acc += x * x
    return math.sqrt(acc)


#: knn_bruteforce is the EVAL baseline, never the serving path: its
#: cost is |corpus| × |queries| cosine evaluations. The guard makes
#: that contract enforced rather than advisory — a caller who really
#: wants a bigger exact sweep opts in explicitly.
BRUTEFORCE_MAX_QUERIES = 1024


def guard_query_panel(queries: DataFrame, caller: str) -> None:
    """Enforce the bounded-query-panel contract of the brute-force eval
    paths: ONE count job, raises when the panel exceeds
    ``BRUTEFORCE_MAX_QUERIES``. Callers that sweep the same panel more
    than once (multi-prefix evals) guard once up front instead of once
    per sweep."""
    n_q = queries.limit(BRUTEFORCE_MAX_QUERIES + 1).count()
    if n_q > BRUTEFORCE_MAX_QUERIES:
        raise ValueError(
            f"{caller}: {n_q}+ queries exceeds the eval guard "
            f"({BRUTEFORCE_MAX_QUERIES}); use knn_lsh/knn_ivf for "
            "serving, or pass allow_large=True for a deliberate "
            "exact sweep")


def cosine_pairs(corpus: DataFrame, queries: DataFrame,
                 on: str | None = None, id_col: str = "vec_id",
                 vec_col: str = "embedding", qid_col: str = "q_id",
                 qvec_col: str = "q_vec") -> DataFrame:
    """Score every (corpus, query) candidate pair: broadcast queries,
    cross join (``on`` None) or equi-join on the candidate key ``on``;
    drop the self pair; add ``neighbor_id`` (= id_col) and ``cos_sim =
    round(cosine, 6)``, keeping every input column. Both norms are
    hoisted below the join (one dot fold per pair, ``cosine_pre``); an
    input that already carries ``_nc`` / ``_nq`` has it reused."""
    if "_nc" not in corpus.columns:
        corpus = corpus.withColumn("_nc", norm(F.col(vec_col)))
    if "_nq" not in queries.columns:
        queries = queries.withColumn("_nq", norm(F.col(qvec_col)))
    q = F.broadcast(queries)
    pairs = corpus.crossJoin(q) if on is None else corpus.join(q, on)
    return (pairs.filter(F.col(id_col) != F.col(qid_col))
                 .withColumn("neighbor_id", F.col(id_col))
                 .withColumn("cos_sim",
                             F.round(cosine_pre(F.col(vec_col),
                                                F.col(qvec_col),
                                                F.col("_nc"), F.col("_nq")),
                                     6)))


def top_k_neighbors(scored: DataFrame, k: int,
                    qid_col: str = "q_id") -> DataFrame:
    """Per-query top-k of scored pairs by (cos_sim desc, neighbor_id
    asc) — the one kNN ranking, with its 1-based rank kept as ``rnk``."""
    return top_k_per_group(scored, [qid_col], k, F.col("cos_sim").desc(),
                           F.col("neighbor_id").asc(), rank_col="rnk",
                           keep_rank=True)


def knn_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "q_id", qvec_col: str = "q_vec",
                   allow_large: bool = False) -> DataFrame:
    """Exact k-NN by cosine: broadcast queries × corpus scan → per-query
    top-k. Ties broken by neighbor id (deterministic).

    GUARDED eval path: raises if the query side exceeds
    ``BRUTEFORCE_MAX_QUERIES`` (unless ``allow_large``) — at scale the
    serving paths are knn_lsh / knn_ivf; this exists to measure their
    recall (knn_recall) on bounded query panels."""
    if not allow_large:
        guard_query_panel(queries, "knn_bruteforce")
    scored = cosine_pairs(corpus, queries, None, id_col, vec_col,
                          qid_col, qvec_col)
    return top_k_neighbors(scored.select(qid_col, "neighbor_id", "cos_sim"),
                           k, qid_col)


def hyperplane_signs(dim: int, plane: int, seed: int = 42) -> list[int]:
    """Deterministic ±1 hyperplane components from md5 — reproducible in
    any engine (used by tests/oracles to re-derive the planes)."""
    import hashlib
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}|{plane}|{i}".encode()).hexdigest()
        out.append(1 if int(h[:2], 16) % 2 == 0 else -1)
    return out


def lsh_bucket(vec_col: Column, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(v · h_p)."""
    v = _dbl(vec_col)
    bucket = F.lit(0)
    for p in range(n_planes):
        signs = hyperplane_signs(dim, p, seed)
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(float(s)) for s in signs]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def knn_lsh(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
            n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "q_id", qvec_col: str = "q_vec", seed: int = 42) -> DataFrame:
    """ANN: score only corpus vectors in the query's LSH bucket. Recall
    is tunable via n_planes (fewer planes → bigger buckets → higher
    recall, more compute). Bucket assignment is one narrow pass; the
    join co-partitions on bucket — no all-pairs shuffle."""
    cb = corpus.withColumn("_bucket",
                           lsh_bucket(F.col(vec_col), dim, n_planes, seed))
    qb = queries.withColumn("_bucket",
                            lsh_bucket(F.col(qvec_col), dim, n_planes, seed))
    scored = cosine_pairs(cb, qb, "_bucket", id_col, vec_col, qid_col,
                          qvec_col)
    return top_k_neighbors(scored.select(qid_col, "neighbor_id", "cos_sim"),
                           k, qid_col)


def embedding_near_dup(corpus: DataFrame, dim: int, threshold: float = 0.95,
                       n_planes: int = 8, id_col: str = "vec_id",
                       vec_col: str = "embedding", seed: int = 42,
                       max_bucket: int = 10000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking: pairs
    sharing a bucket with cosine ≥ threshold. (id_a < id_b.)

    Skew guard: with only 2^n_planes buckets an average bucket holds
    N/2^n_planes vectors and the within-bucket product is O(N²/2^n_planes)
    — a scale cliff. Bucket sizes are counted first (tiny aggregate: at
    most 2^n_planes rows, broadcast), buckets beyond ``max_bucket`` are
    dropped before the join, so the join output is bounded by
    max_bucket² per bucket. Raise n_planes (finer buckets) rather than
    max_bucket to recover recall on dense corpora."""
    # fan_out + bucket-partitioned eager checkpoint (the semantic_dedup
    # r13 pattern): the bucketing/norm map feeds THREE consumers
    # (census, both pair-join sides) — materialize it once, already
    # hash-partitioned on the join key with an explicit partition
    # count (a bare repartition(col) is AQE-coalesced by BYTES, and
    # this table is byte-light but pair-CPU-heavy).
    from hops_spark.ops.dedup import fan_out
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    cb = (fan_out(corpus, id_col)
                 .withColumn("_bucket", lsh_bucket(F.col(vec_col), dim, n_planes, seed))
                 .select(id_col, vec_col, "_bucket")
                 .withColumn("_nv", norm(F.col(vec_col)))
                 .repartition(n_part, "_bucket")
                 .localCheckpoint(eager=True))
    ok = (cb.groupBy("_bucket").agg(F.count("*").alias("_bn"))
            .filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_bucket))
            .select("_bucket"))
    cb = cb.join(F.broadcast(ok), "_bucket", "left_semi")
    a = cb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  F.col("_nv").alias("_na"), "_bucket")
    b = cb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  F.col("_nv").alias("_nb"), "_bucket")
    return (a.join(b, "_bucket")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(cosine_pre(F.col("va"), F.col("vb"),
                                        F.col("_na"), F.col("_nb")), 6)
                      .alias("cos_sim"))
             .filter(F.col("cos_sim") >= threshold)
             .distinct())


def ivf_centroids(corpus: DataFrame, n_cells: int, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the n_cells vectors with the
    smallest md5(id) form the centroid set — a reproducible uniform
    sample (a production IVF k-means-refines these; the plan shape
    below is unchanged). Centroids are driver-side metadata by design:
    IVF's contract is a small codebook, broadcast everywhere."""
    rows = (corpus.orderBy(F.md5(F.col(id_col).cast("string")))
                  .limit(n_cells)
                  .select(id_col, vec_col)
                  .collect())
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _cell_sims(vec: Column, centroids: list[tuple[int, list[float]]],
               nv: Column | None = None) -> Column:
    """array<struct<sim,cell>> of rounded cosine to each centroid.

    ``nv`` is the precomputed ``norm(vec)`` — pass a hoisted column so
    the vector's norm fold runs once per row instead of once per
    centroid (callers that can't hoist get the inline fallback, the
    pre-r13 behavior). Centroid norms are plan-time literals
    (``_py_fold_norm`` — bit-identical to the Column fold), so the
    per-centroid work is exactly one dot fold.

    The codebook rides as TWO literal nodes (cell-id array + centroid
    matrix) with a single transform/zip_with lambda, not n_cells inlined
    cosine trees: Catalyst analysis of the inlined form is O(n_cells ×
    dim) expression nodes and was the dominant cost of every IVF-family
    job (~2 s per analysis at 16×64 — measured, see SCALE.md); the
    lambda form is ~16× smaller and semantically identical (struct
    field order (sim, cell) preserves the max/sort tie-break toward the
    larger cell id). The literals are built via ops/litfast.lit_array
    (one parsed SQL expression, value-identical) — per-element py4j
    literal conversion cost ~0.5-1 s PER CODEBOOK on the driver and was
    the dominant plan-construction cost of the IVF family
    (optimization r12)."""
    cells = lit_array([cid for cid, _ in centroids], "int")
    mat = lit_array([cvec for _, cvec in centroids], "double")
    cnorms = lit_array([_py_fold_norm(cvec) for _, cvec in centroids],
                       "double")
    if nv is None:
        nv = norm(vec)
    sims = F.zip_with(mat, cnorms,
                      lambda cv, cn: F.round(dot(vec, cv) / (nv * cn), 6))
    return F.zip_with(sims, cells,
                      lambda sim, c: F.struct(sim.alias("sim"),
                                              c.alias("cell")))


def coarse_codebook(centroids: list[tuple[int, list[float]]],
                    n_coarse: int
                    ) -> tuple[list[tuple[int, list[float]]],
                               list[list[int]], list[list[list[float]]]]:
    """Two-level quantizer metadata (driver-side, O(n_cells × n_coarse ×
    dim) floats — trivial even at 10^6 cells): the first ``n_coarse``
    fine centroids (already md5-ordered by ivf_centroids — deterministic)
    become the COARSE codebook; every fine centroid is assigned to its
    nearest coarse centroid with the SAME rounded-cosine /
    larger-wins tie-break the Column path uses. Returns
    (coarse list [(coarse_idx, vec)], per-coarse fine cell-id groups,
    per-coarse fine centroid-vector groups) — the latter two are
    literal-array payloads for two_level_cell."""
    import math

    def _cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(y * y for y in b))
        return round(num / den, 6) if den else 0.0

    coarse = [(i, vec) for i, (_cid, vec) in enumerate(centroids[:n_coarse])]
    groups_cells: list[list[int]] = [[] for _ in range(n_coarse)]
    groups_vecs: list[list[list[float]]] = [[] for _ in range(n_coarse)]
    if len(centroids) * n_coarse > 2_000_000:
        # numpy fast path for big codebooks (10^5 cells × ~316 coarse is
        # 5·10^8 scalar ops — minutes in the Python fold, <1 s as one
        # GEMM). BLAS accumulation order can differ from the scalar fold
        # in the last ulp pre-rounding, so this path is gated to sizes
        # the relational oracle replicas never replay; the two-level
        # CONTRACT is unaffected either way (grouping only decides which
        # candidates are probed — the fine argmax itself stays the
        # Column path, and full-probe == flat holds for ANY grouping).
        import numpy as np
        cm = np.asarray([vec for _cid, vec in centroids], dtype=np.float64)
        qm = np.asarray([cv for _i, cv in coarse], dtype=np.float64)
        norms_c = np.linalg.norm(cm, axis=1)
        norms_q = np.linalg.norm(qm, axis=1)
        den = np.outer(norms_c, norms_q)
        den[den == 0] = np.inf
        sims = np.round(cm @ qm.T / den, 6)
        # ties pick the LARGER coarse index (the Python max((cos, i))
        # tie-break): argmax over the reversed axis, then re-reflect
        best = (n_coarse - 1) - np.argmax(sims[:, ::-1], axis=1)
        for (cid, vec), b in zip(centroids, best):
            groups_cells[int(b)].append(cid)
            groups_vecs[int(b)].append(vec)
    else:
        for cid, vec in centroids:
            best = max(((_cos(vec, cv), i) for i, cv in coarse))[1]
            groups_cells[best].append(cid)
            groups_vecs[best].append(vec)
    return coarse, groups_cells, groups_vecs


def two_level_cell(vec: Column, centroids: list[tuple[int, list[float]]],
                   n_coarse: int | None = None,
                   coarse_probes: int = 4,
                   nv: Column | None = None) -> Column:
    """Coarse-then-fine cell assignment — the broadcast-argmax operator
    COMPOSED WITH ITSELF (the IVF-on-the-codebook trick; SCALE.md note
    39 made executable): argmax over ~sqrt(n_cells) coarse centroids,
    then argmax over only the fine centroids of the ``coarse_probes``
    nearest coarse groups. Per-vector cost drops from n_cells cosines
    to ~(sqrt(n_cells) + coarse_probes * n_cells / sqrt(n_cells)) —
    the difference between 4096 and ~320 codebook distances per vector
    at n_cells=4096. Same (sim, cell) struct tie-break as the flat
    path, so wherever the true argmax cell's coarse group is probed the
    result is IDENTICAL to flat assignment (the ivf_two_level oracle
    query asserts zero mismatches on the fixture)."""
    if n_coarse is None:
        n_coarse = max(1, int(round(len(centroids) ** 0.5)))
    coarse, gcells, gvecs = coarse_codebook(centroids, n_coarse)
    if nv is None:
        nv = norm(vec)
    probes = F.slice(F.reverse(F.array_sort(_cell_sims(vec, coarse, nv))),
                     1, min(coarse_probes, n_coarse))
    gc = lit_array(gcells, "int")
    gv = lit_array(gvecs, "double")
    gnorms = lit_array([[_py_fold_norm(v) for v in grp] for grp in gvecs],
                       "double")
    cand_cells = F.flatten(F.transform(
        probes, lambda p: F.element_at(gc, p.getField("cell") + 1)))
    cand_vecs = F.flatten(F.transform(
        probes, lambda p: F.element_at(gv, p.getField("cell") + 1)))
    cand_norms = F.flatten(F.transform(
        probes, lambda p: F.element_at(gnorms, p.getField("cell") + 1)))
    sims = F.zip_with(cand_vecs, cand_norms,
                      lambda cv, cn: F.round(dot(vec, cv) / (nv * cn), 6))
    return F.array_max(F.zip_with(
        sims, cand_cells,
        lambda s, c: F.struct(s.alias("sim"), c.alias("cell")))) \
        .getField("cell")


def probe_cells(queries: DataFrame,
                centroids: list[tuple[int, list[float]]], nprobe: int,
                qvec_col: str = "q_vec") -> DataFrame:
    """One row per (query, probed cell) for each query's ``nprobe``
    nearest cells by (rounded sim desc, larger cell id) — the build
    assignment's order. Adds ``_nq`` (the query norm) and ``cell``."""
    nearest = F.slice(F.reverse(F.array_sort(
        _cell_sims(F.col(qvec_col), centroids, F.col("_nq")))), 1, nprobe)
    return (queries.withColumn("_nq", norm(F.col(qvec_col)))
                   .withColumn("_p", F.explode(nearest))
                   .withColumn("cell", F.col("_p.cell"))
                   .drop("_p"))


def scan_cells(vectors: DataFrame, probed: DataFrame
               ) -> tuple[DataFrame, list[int]]:
    """(scan of ``vectors`` pruned to ``probed``'s cells, sorted cell
    ids): the ≤ n_queries × nprobe ids are collected and become a
    literal IN filter — static partition pruning."""
    cells = sorted(r["cell"] for r in
                   probed.select("cell").distinct().collect())
    return vectors.where(F.col("cell").isin(cells)), cells


def knn_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10,
            n_cells: int = 16, nprobe: int = 2,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "q_id", qvec_col: str = "q_vec",
            centroids: list[tuple[int, list[float]]] | None = None) -> DataFrame:
    """IVF ANN: assign each corpus vector to its nearest centroid cell (one
    narrow pass — argmax over the broadcast codebook), probe the
    query's nprobe nearest cells, score only within probed cells.
    Candidate fraction ≈ nprobe/n_cells of the corpus; ties at 6
    decimals break toward the larger cell id (array_max struct order)
    so any engine reproduces the same partition."""
    cents = centroids or ivf_centroids(corpus, n_cells, id_col, vec_col)
    cell_of = F.array_max(_cell_sims(F.col(vec_col), cents,
                                     F.col("_nc"))).getField("cell")
    # fan_out: a single-file corpus otherwise runs the n_cells×dim
    # assignment AND the broadcast-probe scoring on one core (the
    # broadcast join inherits cb's partitioning) — r13 stage profile
    from hops_spark.ops.dedup import fan_out
    cb = (fan_out(corpus.select(id_col, vec_col), id_col)
                .withColumn("_nc", norm(F.col(vec_col)))
                .withColumn("cell", cell_of))
    qb = probe_cells(queries.select(qid_col, qvec_col), cents, nprobe,
                     qvec_col)
    scored = cosine_pairs(cb, qb, "cell", id_col, vec_col, qid_col, qvec_col)
    return top_k_neighbors(scored.select(qid_col, "neighbor_id", "cos_sim"),
                           k, qid_col)


def semantic_dedup(corpus: DataFrame, dim: int, n_clusters: int = 16,
                   threshold: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding", max_cell: int = 10000,
                   centroids: list[tuple[int, list[float]]] | None = None
                   ) -> DataFrame:
    """Embedding-space dedup, SemDeDup-shaped (public: Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into centroid cells (so
    near-identical vectors land together), compare pairs only WITHIN a
    cell, and drop every vector that has a higher-similarity twin with a
    smaller id. Returns (id, cell, is_kept) for every corpus vector.

    This is the deterministic variant: keep-min-id per duplicate pair
    (the paper keeps max-distance-to-centroid; min-id gives the same
    cluster census and is engine-reproducible, which the oracle needs).

    Scale: assignment is the same broadcast-argmax narrow pass knn_ivf
    uses — no shuffle; the pair join shuffles once on cell and is
    bounded by max_cell² per cell (cells beyond max_cell are skipped —
    their members are all KEPT, the conservative direction for dedup).
    n_clusters scales as corpus_size/expected_cell_size, keeping
    within-cell work constant as the corpus grows."""
    cents = centroids or ivf_centroids(corpus, n_clusters, id_col, vec_col)
    cell_of = F.array_max(_cell_sims(F.col(vec_col), cents,
                                     F.col("_nv"))).getField("cell")
    # Materialize the assignment once: cb feeds THREE consumers (cell
    # census, capped pair join, final keep-flag join), and the argmax
    # over n_clusters×dim literal cosines is both expensive to analyze
    # (big Catalyst tree per job) and to recompute per pass. The eager
    # localCheckpoint truncates lineage so downstream jobs replan/rescan
    # the narrow (id, vec, cell) table instead — at 100 TB this is the
    # "write assignments once, read thrice" pattern. The vector norm is
    # materialized alongside (8 bytes/row) so the pair stage pays one
    # dot fold per pair instead of dot + two norm folds.
    # fan_out: a small single-file corpus otherwise runs the whole
    # n_clusters×dim assignment on ONE core (r13 stage profile: the
    # query was a single 2.7 s task); the repartition("cell") puts the
    # checkpoint IN the pair join's partitioning, so the census
    # aggregate and both self-join sides read it exchange-free and the
    # byte-light/CPU-heavy pair stage can no longer be AQE-coalesced
    # to one task (guide §2.1: establish partitioning once). At scale
    # this replaces the pair join's own shuffle — same bytes, moved
    # before the checkpoint.
    from hops_spark.ops.dedup import fan_out
    # explicit partition count: repartition("cell") without N is a
    # REPARTITION_BY_COL shuffle that AQE coalesces by BYTES — the
    # 0.7 MB assignment table collapsed back to one partition and the
    # pair stage ran as a single 2.6 s task. Pair cost is Σ|cell|²
    # compute, not bytes, so parallelism is pinned to the cluster's
    # defaultParallelism (cores locally, executors×cores deployed).
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    cb = (fan_out(corpus.select(id_col, vec_col), id_col)
                .withColumn("_nv", norm(F.col(vec_col)))
                .withColumn("cell", cell_of.cast("long"))
                .repartition(n_part, "cell")
                .localCheckpoint(eager=True))
    ok = (cb.groupBy("cell").agg(F.count("*").alias("_n"))
            .filter((F.col("_n") >= 2) & (F.col("_n") <= max_cell))
            .select("cell"))
    # Second materialization: the capped slice feeds BOTH sides of the
    # pair self-join — checkpointing computes it once and sidesteps a
    # Spark 4.1 internal attribute-rebinding error (ATTRIBUTE_NOT_FOUND
    # on the lambda-bound vector columns) when a broadcast-semi-joined
    # LogicalRDD is self-joined under higher-order-function filters.
    capped = (cb.join(F.broadcast(ok), "cell", "left_semi")
                .localCheckpoint(eager=True))
    a = capped.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                      F.col("_nv").alias("_na"), "cell")
    b = capped.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                      F.col("_nv").alias("_nb"), "cell")
    # pair-stage cosine: ONE HOF fold (the dot) per pair — the norms
    # were hoisted into cb above. A dot unrolled at plan time into a
    # 64-term element_at chain measured 5-6x slower at sf1 (139 vs
    # 27 s: the chain leaves codegen and evaluates interpreted per
    # pair); see OPTIMIZATION_r13.md.
    dropped = (a.join(b, "cell")
                .filter(F.col("id_a") < F.col("id_b"))
                .filter(F.round(cosine_pre(F.col("va"), F.col("vb"),
                                           F.col("_na"), F.col("_nb")), 6)
                        >= threshold)
                .select(F.col("id_b").alias(id_col))
                .distinct()
                .withColumn("_dup", F.lit(True)))
    return (cb.join(dropped, id_col, "left")
              .select(id_col, "cell",
                      F.col("_dup").isNull().alias("is_kept")))


def ivf_kmeans_refine(corpus: DataFrame,
                      centroids: list[tuple[int, list[float]]],
                      iters: int = 1, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Lloyd (k-means) refinement of the IVF codebook, expressed as
    DataFrame ops: assignment is the same broadcast-argmax narrow pass
    knn_ivf uses; the new centroid is the per-cell per-dimension mean
    via posexplode + one (cell, dim) aggregate — 2 shuffles per
    iteration, aggregate output bounded by n_cells × dim rows. The
    refined codebook returns to the driver, which is the IVF contract
    (a small codebook, broadcast everywhere); cells that lose every
    member keep their previous centroid (standard empty-cell rule).

    Deterministic: assignments tie-break toward the larger cell id
    (array_max struct order) and means round to 6 decimals, so an
    independent engine reproduces the codebook bit-for-bit."""
    for _ in range(iters):
        cell_of = F.array_max(_cell_sims(F.col(vec_col), centroids,
                                         F.col("_nv"))).getField("cell")
        assigned = (corpus.withColumn("_nv", norm(F.col(vec_col)))
                          .select(F.col(vec_col).alias("v"),
                                  cell_of.alias("cell")))
        means = (assigned.select("cell", F.posexplode("v").alias("pos", "val"))
                         .groupBy("cell", "pos")
                         .agg(F.round(F.avg("val"), 6).alias("m"))
                         .groupBy("cell")
                         .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                               .alias("pm"))
                         .select("cell",
                                 F.transform("pm", lambda s: s["m"]).alias("mv"))
                         .collect())
        new = {int(r["cell"]): [float(x) for x in r["mv"]] for r in means}
        centroids = [(cid, new.get(cid, vec)) for cid, vec in centroids]
    return centroids


def rerank_exact(corpus: DataFrame, queries: DataFrame,
                 shortlist: DataFrame, k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "q_id", qvec_col: str = "q_vec"
                 ) -> DataFrame:
    """Exact-cosine rerank of an ANN shortlist — the standard two-stage
    serving answer (coarse index produces candidates, full precision
    decides the final order; FAISS's refine step). The shortlist is
    bounded by construction (n_queries x R rows), so it BROADCASTS into
    the full-precision source table: the scan stays a keyed semi-style
    lookup of R ids per query, never a rescan of the corpus. Output
    (q_id, neighbor_id, cos_sim, rnk) scored and ranked like
    knn_bruteforce (self pair dropped), so a rerank over an
    all-inclusive shortlist degenerates to exact kNN."""
    cand = shortlist.select(F.col(qid_col),
                            F.col("neighbor_id").alias(id_col))
    rows = (corpus.select(id_col, vec_col)
                  .withColumn("_nc", norm(F.col(vec_col)))
                  .join(F.broadcast(cand), id_col))
    scored = cosine_pairs(rows, queries.select(qid_col, qvec_col), qid_col,
                          id_col, vec_col, qid_col, qvec_col)
    return top_k_neighbors(scored.select(qid_col, "neighbor_id", "cos_sim"),
                           k, qid_col)


def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage step
    that makes billion-vector ANN affordable (4x smaller than float32,
    SIMD-friendly dot products; the standard faiss/SQ8 scheme):
    scale = max|x_i|, q_i = floor(x_i * 127 / scale), q ∈ [-127, 127].

    Map-only Column expressions (zero shuffle, no Python); floor is
    tie-free on the double grid, so any engine reproduces every q_i
    bit-for-bit from the same float32 inputs. Zero vectors quantize to
    all-zero with scale 0. Output: (id, scale double, q array<int>)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale == 0.0,
               F.transform(v, lambda x: F.lit(0))) \
         .otherwise(F.transform(
             v, lambda x: F.floor(x * 127 / scale).cast("int")))
    return df.select(F.col(id_col), scale.alias("scale"), q.alias("q"))


# --- cell-partitioned serving index (build once, probe many) -----------


#: Cell count beyond which index builds stop inlining the codebook as a
#: Column literal and use the GEMM data path (assign_cells_gemm) — the
#: literal's build+analysis alone costs ~13 ms/cell (round-7 curve).
GEMM_ASSIGN_CELLS = 4096


def build_cell_index(corpus: DataFrame,
                     centroids: list[tuple[int, list[float]]],
                     index_dir: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     two_level: bool | None = None,
                     coarse_probes: int = 4) -> None:
    """Materialize the ANN serving index: each vector assigned to its
    nearest centroid cell (argmax over the broadcast codebook — one
    narrow pass) and stored SQ8-QUANTIZED ONLY (scale + int8 codes, 4x
    smaller than float32 — the quantized form IS the index; full
    precision stays in the source table), written as parquet
    partitioned BY CELL. A probe then reads only nprobe/n_cells of the
    files via static partition pruning — the layout is the query-time
    optimization, exactly Spark's partition-pruned scan path.

    Reference analog: MapFileOutputFormat's sorted+indexed layout for
    point lookups (hadoop-mapreduce-client-core/.../output/
    MapFileOutputFormat.java:38) re-expressed as a partitioned
    columnar index.

    ``two_level`` switches assignment to the coarse-then-fine composed
    argmax (two_level_cell) — default auto: on beyond 1024 cells, where
    the flat per-vector n_cells-cosine scan dominates build cost
    (SCALE.md note 39's deployment rule made executable). Beyond
    ``GEMM_ASSIGN_CELLS`` cells the codebook leaves the expression tree
    entirely: Column-literal codebooks cost minutes of driver-side
    build/analysis at that size (53 s at 4096 cells, 217 s at 16384,
    unfinished in 23 min at 10^5 — round-7 measurements), so
    assignment goes through assign_cells_gemm (codebook as an Arrow
    numpy matrix; two-level, 24x over flat GEMM at 10^5 cells)."""
    if two_level is None:
        two_level = len(centroids) > 1024
    if len(centroids) > GEMM_ASSIGN_CELLS:
        n_coarse = (max(1, int(round(len(centroids) ** 0.5)))
                    if two_level else None)
        assigned = assign_cells_gemm(corpus, centroids, id_col, vec_col,
                                     n_coarse=n_coarse,
                                     coarse_probes=coarse_probes)
        q = quantize_int8(corpus, id_col, vec_col) \
            .withColumnRenamed("q", "q_int8")
        (assigned.join(q, id_col)
                 .select(id_col, "cell", "scale", "q_int8")
                 .write.mode("overwrite").partitionBy("cell")
                 .parquet(index_dir))
        return
    if two_level:
        cell_of = two_level_cell(F.col(vec_col), centroids,
                                 coarse_probes=coarse_probes,
                                 nv=F.col("_nv"))
    else:
        cell_of = F.array_max(_cell_sims(F.col(vec_col), centroids,
                                         F.col("_nv"))).getField("cell")
    q = quantize_int8(corpus, id_col, vec_col) \
        .withColumnRenamed("q", "q_int8")
    (corpus.select(id_col, vec_col)
           .withColumn("_nv", norm(F.col(vec_col)))
           .withColumn("cell", cell_of).drop("_nv")
           .join(q, id_col)
           .select(id_col, "cell", "scale", "q_int8")
           .write.mode("overwrite").partitionBy("cell").parquet(index_dir))


def probe_cell_index(spark, index_dir: str,
                     centroids: list[tuple[int, list[float]]],
                     queries: DataFrame, k: int = 10, nprobe: int = 2,
                     id_col: str = "vec_id",
                     qid_col: str = "q_id", qvec_col: str = "q_vec"
                     ) -> tuple[DataFrame, list[int]]:
    """Probe the cell-partitioned SQ8 index: per query take the nprobe
    nearest cells (same rounded-cosine/larger-cell tie-break as the
    build assignment), restrict the scan to the UNION of probed cells
    with a literal IN filter — static partition pruning, the scan never
    touches unprobed cell directories — then score the DEQUANTIZED
    codes (q_i * scale / 127) against the full-precision query vector.

    The probed-cell collect is bounded by n_queries x nprobe ids
    (driver-side metadata, like the codebook itself). Returns
    (top-k DataFrame, probed cell ids) so callers can assert pruning.

    Beyond GEMM_ASSIGN_CELLS cells the probe-cell choice moves off the
    Column-literal codebook too (the build side's note-67 analysis
    wall applies identically here): the query panel is already a
    bounded driver-side collect, so the top-nprobe cells per query
    come from one numpy GEMM with the same (rounded sim desc, larger
    cell id) ordering, and the probe table ships back as data."""
    vectors = spark.read.parquet(index_dir)
    if len(centroids) > GEMM_ASSIGN_CELLS:
        import numpy as np
        from pyspark.sql import types as T
        q_rows = queries.select(qid_col, qvec_col).collect()
        cid = np.array([c for c, _ in centroids], dtype=np.int64)
        order = np.argsort(cid)
        cid = cid[order]
        cm = np.asarray([centroids[i][1] for i in order],
                        dtype=np.float64)
        cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True),
                         1e-300)
        out = []
        for r in q_rows:
            v = np.asarray(r[1], dtype=np.float64)
            v /= max(float(np.linalg.norm(v)), 1e-300)
            s = np.round(cm @ v, 6)
            # (sim desc, cell id desc) — lexsort's LAST key is primary
            idx = np.lexsort((cid, s))[::-1][:nprobe]
            out.extend((r[0], r[1], int(cid[i])) for i in idx)
        qb = spark.createDataFrame(out, schema=T.StructType([
            # preserve the caller's qid type like the Column branch
            # does — a hard-coded LongType broke/coerced non-long ids
            # only above GEMM_ASSIGN_CELLS (round-7 ADVICE)
            T.StructField(qid_col, queries.schema[qid_col].dataType),
            T.StructField(qvec_col, queries.schema[qvec_col].dataType),
            T.StructField("cell", T.LongType())]))
    else:
        qb = probe_cells(queries.select(qid_col, qvec_col), centroids,
                         nprobe, qvec_col)
    pruned, cells_needed = scan_cells(vectors, qb)
    # Lifecycle: rows deleted since the last compaction are masked by
    # the tombstone side-set (broadcast — small between compactions by
    # contract). Applied AFTER partition pruning so the scan stays
    # pruned to the probed cells.
    tomb = read_tombstones(spark, index_dir)
    if tomb is not None:
        pruned = pruned.join(F.broadcast(tomb), id_col, "left_anti")
    deq = F.transform(F.col("q_int8"),
                      lambda x: x.cast("double") * F.col("scale") / 127.0)
    scored = cosine_pairs(pruned.filter(F.col("scale") > 0)
                                .withColumn("_dv", deq),
                          qb, "cell", id_col, "_dv", qid_col, qvec_col)
    top = top_k_neighbors(scored.select(qid_col, "neighbor_id", "cos_sim"),
                          k, qid_col)
    return top, cells_needed


def append_cell_index(new_vectors: DataFrame,
                      centroids: list[tuple[int, list[float]]],
                      index_dir: str, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """Incrementally ADD vectors to an existing cell index without a
    rebuild — the production serving update (each ingest batch assigns
    against the FROZEN codebook and appends its SQ8 rows into the same
    cell partitions; dynamic-partition append touches only the cells
    the batch lands in). Probes see old + new immediately; re-running
    build_cell_index (full rebuild + k-means refresh) is the periodic
    compaction, not the ingest path. Above GEMM_ASSIGN_CELLS cells the
    assignment rides the GEMM data path like build/probe (note 67)."""
    q = quantize_int8(new_vectors, id_col, vec_col) \
        .withColumnRenamed("q", "q_int8")
    if len(centroids) > GEMM_ASSIGN_CELLS:
        assigned = assign_cells_gemm(new_vectors, centroids, id_col,
                                     vec_col)
    else:
        cell_of = F.array_max(_cell_sims(F.col(vec_col), centroids,
                                         F.col("_nv"))).getField("cell")
        assigned = (new_vectors.select(id_col, vec_col)
                               .withColumn("_nv", norm(F.col(vec_col)))
                               .withColumn("cell", cell_of).drop("_nv"))
    (assigned.join(q, id_col)
             .select(id_col, "cell", "scale", "q_int8")
             .write.mode("append").partitionBy("cell").parquet(index_dir))


# --- index lifecycle: delete (tombstones) + compact ------------------

#: Hidden side-directory inside the index root holding deleted ids.
#: Leading underscore => invisible to Spark/Hadoop input listing, so
#: ``spark.read.parquet(index_dir)`` still sees only vector rows.
TOMBSTONE_SUBDIR = "_tombstones"


def delete_from_cell_index(deletes: DataFrame, index_dir: str,
                           id_col: str = "vec_id") -> None:
    """DELETE vectors from a serving index without rewriting it: append
    the ids as a TOMBSTONE parquet under ``index_dir/_tombstones`` (the
    log-structured delete every immutable-file index uses — parquet
    cell files never mutate). Probes anti-join the tombstone set
    (broadcast: deletions between compactions are small relative to
    the index by the compaction contract below); ``compact_cell_index``
    physically reclaims the rows once the tombstone fraction crosses
    its threshold.

    Re-inserting a previously deleted id is undefined until a
    compaction has reclaimed its tombstone (the tombstone would mask
    the re-appended row); production systems add a sequence number —
    out of scope here and asserted nowhere."""
    import os

    (deletes.select(F.col(id_col)).distinct()
            .write.mode("append")
            .parquet(os.path.join(index_dir, TOMBSTONE_SUBDIR)))


def read_tombstones(spark, index_dir: str) -> DataFrame | None:
    """The current tombstone id set, or None if nothing was deleted."""
    import os

    path = os.path.join(index_dir, TOMBSTONE_SUBDIR)
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path).distinct()


def tombstone_fraction(spark, index_dir: str) -> float:
    """Fraction of index rows masked by tombstones (compaction gauge)."""
    tomb = read_tombstones(spark, index_dir)
    if tomb is None:
        return 0.0
    total = spark.read.parquet(index_dir).count()
    return (tomb.count() / total) if total else 0.0


def compact_cell_index(spark, index_dir: str, id_col: str = "vec_id",
                       threshold: float = 0.2) -> dict:
    """Physically reclaim tombstoned rows once they cross ``threshold``
    of the index — the re-pack step of the lifecycle (the
    compaction_plan discipline applied to the index layout): survivors
    are re-partitioned BY CELL so each cell re-packs into one file
    (probes read whole cells — many tiny appended files per cell is
    the read amplification this removes), written to a staging sibling
    and atomically promoted with a directory swap (the distcp -atomic
    staged-commit shape), tombstones cleared. Below the threshold it
    is a no-op: compaction cost is a full index rewrite, so it must be
    paid only when the masked fraction justifies it.

    The codebook is FROZEN across compaction — cell ids and therefore
    probe routing are unchanged; re-balancing the codebook itself is a
    rebuild (``build_cell_index`` + k-means refine on the surviving
    full-precision corpus), not a compaction.

    Returns {n_before, n_tombstoned, n_after, compacted}."""
    import os
    import shutil

    # Crash recovery FIRST: the two-rename swap below is not atomic —
    # a death between rename(index, old) and rename(staging, index)
    # leaves NO directory at index_dir and the whole index at the old
    # sibling. Detect that state and roll the old dir back before
    # reading, so a crashed compaction self-heals on the next call
    # instead of failing every probe until an operator intervenes.
    recover_old = index_dir.rstrip("/") + "_compact_old"
    if not os.path.isdir(index_dir) and os.path.isdir(recover_old):
        os.rename(recover_old, index_dir)

    vectors = spark.read.parquet(index_dir)
    n_before = vectors.count()
    tomb = read_tombstones(spark, index_dir)
    n_tomb = tomb.count() if tomb is not None else 0
    frac = (n_tomb / n_before) if n_before else 0.0
    if tomb is None or frac < threshold:
        return {"n_before": n_before, "n_tombstoned": n_tomb,
                "n_after": n_before, "compacted": False}
    survivors = vectors.join(F.broadcast(tomb), id_col, "left_anti")
    staging = index_dir.rstrip("/") + "_compact_staging"
    (survivors.repartition("cell")
              .write.mode("overwrite").partitionBy("cell")
              .parquet(staging))
    n_after = spark.read.parquet(staging).count()
    # a previous compaction that died AFTER its second rename may have
    # left the old dir behind — clear it so this swap cannot fail (a
    # death BETWEEN the renames is the recovery branch at the top)
    old = index_dir.rstrip("/") + "_compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(index_dir, old)
    os.rename(staging, index_dir)
    shutil.rmtree(old)
    return {"n_before": n_before, "n_tombstoned": n_tomb,
            "n_after": n_after, "compacted": True}


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 10,
                   dup_threshold: float = 0.3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   qid_col: str = "q_id", qvec_col: str = "q_vec",
                   qlabel_col: str = "q_label",
                   allow_large: bool = False) -> DataFrame:
    """Hard-negative mining for contrastive/metric training (public:
    the in-batch-negatives literature, e.g. Xiong et al. 2021 ANCE —
    the strongest negatives are the nearest DIFFERENT-CLASS vectors):
    per query, the top-``k`` corpus vectors by cosine that (a) carry a
    DIFFERENT label and (b) sit below ``dup_threshold`` — a same-class
    or near-duplicate vector is a false negative that poisons the
    loss, so both filters run BEFORE the ranking, not after (a
    post-filtered top-k would silently return fewer than k).

    Same guarded eval shape as knn_bruteforce — INCLUDING the
    BRUTEFORCE_MAX_QUERIES guard (bounded query panel × corpus scan,
    deterministic (cos desc, id) ranking); at serving
    scale the shortlist comes from the IVF/PQ index and these filters
    apply to the probe result — this op is the exact-eval face the
    recall checks need."""
    if not allow_large:
        guard_query_panel(queries, "hard_negatives")
    scored = (cosine_pairs(corpus, queries, None, id_col, vec_col, qid_col,
                           qvec_col)
              .filter(F.col(label_col) != F.col(qlabel_col))
              .select(F.col(qid_col), "neighbor_id",
                      F.col(label_col).alias("neg_label"), "cos_sim")
              .filter(F.col("cos_sim") < dup_threshold))
    return top_k_neighbors(scored, k, qid_col)


def knn_bruteforce_gemm(corpus: DataFrame, queries: DataFrame, k: int = 10,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        qid_col: str = "q_id", qvec_col: str = "q_vec",
                        margin: int = 8) -> DataFrame:
    """Exact k-NN at GEMM speed — the vectorized twin of
    knn_bruteforce, result BIT-IDENTICAL to it by construction:

    1. The bounded query panel collects to one numpy matrix (driver
       metadata, like an IVF codebook) and rides into an Arrow
       ``mapInPandas`` over the corpus: per record batch, ONE float64
       matmul scores every (vector, query) pair — BLAS replaces
       n_q x dim Column-expression fold evaluations per row, the
       10-100x batch-kernel win the scalar path leaves on the table.
    2. Each batch emits only candidate ids per query: the top
       (k + margin) by ROUNDED score (np.argpartition seed), widened to
       every row whose rounded score lands within one 1e-6 grid step of
       the t-th rounded score. Pruning therefore uses the same 6-decimal
       ordering as the final rank, and a rounded TIE at the boundary —
       however wide — can never evict a true top-k member (the former
       unrounded-score pruning could, when > margin rows tied at 6
       decimals; round-6 ADVICE). The one-step slack additionally covers
       BLAS-vs-fold 1-ulp noise crossing a rounding boundary. Output
       stays ~n_batches * n_q * (k + margin + tie_width) rows — never
       the full score matrix.
    3. The candidates are EXACTLY RE-SCORED with the same rounded
       Column-expression cosine and (cos desc, id asc) tie-break as
       knn_bruteforce, so float summation-order differences between
       BLAS (pairwise/SIMD) and the fold CANNOT leak into the result.

    The rerank-after-candidates shape is the production serving
    pattern; here it doubles as the exactness proof."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(qid_col, qvec_col).collect()
    if not q_rows:
        return knn_bruteforce(corpus, queries, k, id_col, vec_col,
                              qid_col, qvec_col)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    take = k + margin

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True),
                             1e-300)
            s = cm @ qm.T                       # (batch, n_q) — one GEMM
            sr = np.round(s, 6)                 # prune on the RANK grid
            # Self-row mask: when the query panel is a subset of the
            # corpus (knn_gemm's shape), the query's own corpus row
            # scores cosine 1.0 and would consume a seed slot that the
            # rerank's self-exclusion filter then discards — with
            # margin=0 the true k-th neighbor could be evicted. Drop it
            # from the pruning grid so every seed slot holds a real
            # candidate (round-7 ADVICE).
            sr[ids[:, None] == q_ids[None, :]] = -np.inf
            t = min(take, len(ids))
            seed = np.argpartition(-sr, t - 1, axis=0)[:t]  # (t, n_q)
            # t-th rounded score per query, minus one grid step of slack:
            # keep every row at-or-above it so rounded boundary ties all
            # survive into the exact rerank.
            cut = sr[seed, np.arange(len(q_ids))].min(axis=0) - 1e-6
            out_q, out_n = [], []
            for j in range(len(q_ids)):
                keep = np.nonzero(sr[:, j] >= cut[j])[0]
                out_q.append(np.full(len(keep), q_ids[j], dtype=np.int64))
                out_n.append(ids[keep])
            yield pd.DataFrame({"q_id_c": np.concatenate(out_q),
                                "neighbor_id_c": np.concatenate(out_n)})

    cand = (corpus.select(id_col, vec_col)
                  .mapInPandas(score_batches,
                               schema="q_id_c long, neighbor_id_c long")
                  .distinct())
    # exact re-score of the candidate set with the scalar-path formula
    shortlist = cand.select(F.col("q_id_c").alias(qid_col),
                            F.col("neighbor_id_c").alias("neighbor_id"))
    return rerank_exact(corpus, queries, shortlist, k, id_col, vec_col,
                        qid_col, qvec_col)


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (sparse sign matrix)
# --------------------------------------------------------------------------

#: Fixed-point grid for JL projection inputs: float32 elements are exact
#: in double, so floor(x * JL_QUANT) is tie-free and engine-portable.
JL_QUANT = 1_000_000


def jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 entry of the JL sign matrix (Achlioptas 2003,
    "Database-friendly random projections": a Rademacher ±1 matrix
    satisfies the JL lemma with the same distortion bound as Gaussian).
    Seeded by md5 of the coordinate pair so Python, the Spark plan, and
    the DuckDB oracle all interpolate the SAME literal — the matrix is
    never computed twice (oracle-rules: one symbol, two engines)."""
    import hashlib
    return 1 if int(hashlib.md5(f"jl_{i}_{j}".encode())
                    .hexdigest()[0], 16) % 2 == 0 else -1


def jl_project(df: DataFrame, emb_col: str = "embedding",
               in_dim: int = 64, out_dim: int = 16,
               quant: int = JL_QUANT) -> DataFrame:
    """Project ``emb_col`` (array<float>, length ``in_dim``) to
    ``out_dim`` integer components ``p0..p{out_dim-1}``:

        p_j = Σ_i  sign(i, j) · floor(x_i · quant)

    Map-only, zero shuffle, pure Column arithmetic inside whole-stage
    codegen — the classic cheap dimensionality reduction in front of an
    ANN / near-dup stage (project 1024-dim model embeddings to 64 ints,
    then bucket or index the projections). Integer fixed-point keeps the
    result bit-identical across engines and fold orders: |p_j| ≤
    in_dim · quant · max|x|, far inside int64 for any sane embedding.

    At 100 TB this is the right shape: no shuffle, ~in_dim·out_dim fused
    multiply-adds per row in codegen, and downstream stages operate on
    the (out_dim/in_dim)-sized projections instead of the raw vectors.
    """
    q = F.transform(F.col(emb_col),
                    lambda x: F.floor(x.cast("double") * F.lit(float(quant)))
                               .cast("long"))
    # element_at past the array end is NULL, which would silently null
    # every projection component — fail loud on a dimension mismatch.
    # The assert is folded INTO the live _q expression (a dropped guard
    # column would be pruned away by Catalyst, silently disabling it):
    # assert_true returns NULL on success, so the when() always takes
    # the q branch and the check cannot be optimized out.
    guard = F.assert_true(
        F.size(emb_col) >= in_dim,
        F.lit(f"jl_project: {emb_col} shorter than in_dim={in_dim}"))
    out = df.withColumn("_q", F.when(guard.isNull(), q))
    for j in range(out_dim):
        expr = None
        for i in range(in_dim):
            term = F.element_at(F.col("_q"), i + 1)
            term = term if jl_sign(i, j) > 0 else -term
            expr = term if expr is None else expr + term
        out = out.withColumn(f"p{j}", expr)
    return out.drop("_q")


# --------------------------------------------------------------------------
# Multi-probe SRP-LSH (Lv et al. 2007, "Multi-Probe LSH: Efficient
# Indexing for High-Dimensional Similarity Search")
# --------------------------------------------------------------------------

def srp_bucket(out_dim: int) -> Column:
    """Pack the signs of JL projections ``p0..p{out_dim-1}`` (already in
    scope from :func:`jl_project`) into one integer SRP bucket key."""
    bits = None
    for j in range(out_dim):
        b = F.when(F.col(f"p{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bits = b if bits is None else bits + b
    return bits.cast("long")


def multiprobe_keys(out_dim: int, nprobe: int) -> Column:
    """Array of ``nprobe`` probe bucket keys for a query row: its own
    SRP bucket first, then Hamming-1 neighbors in ascending ``|p_j|``
    order (ties by j). Flipping the LEAST-confident sign first is the
    multi-probe insight: when a projection is near zero, the true
    neighbors are as likely to sit just across that hyperplane, so a
    handful of adjacent buckets recovers most of the recall extra hash
    tables would buy — without replicating the corpus. Pure Column
    arithmetic; each corpus vector still lives in exactly ONE bucket,
    so probe keys being distinct means no candidate dedup is needed.
    """
    if not 1 <= nprobe <= out_dim + 1:
        # slice() would CLAMP an oversized probe count (silently fewer
        # probes than asked) and error opaquely on nprobe < 1
        raise ValueError(
            f"nprobe must be in [1, out_dim + 1 = {out_dim + 1}], "
            f"got {nprobe}")
    bucket = srp_bucket(out_dim)
    flips = F.array_sort(F.array(*[
        F.struct(F.abs(F.col(f"p{j}")).alias("a"),
                 F.lit(j).alias("j")) for j in range(out_dim)]))
    # shiftleft needs a LITERAL count (oracle-rules) → pow(2.0, j) is an
    # exact double for j ≤ 52, then cast back to long for the XOR.
    masked = F.transform(
        F.slice(flips, 1, nprobe - 1),
        lambda s: bucket.bitwiseXOR(
            F.pow(F.lit(2.0), s["j"]).cast("long")))
    return F.concat(F.array(bucket), masked)


def knn_multiprobe(corpus: DataFrame, queries: DataFrame, in_dim: int,
                   k: int = 10, bucket_bits: int = 8, nprobe: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "q_id", qvec_col: str = "q_vec") -> DataFrame:
    """ANN k-NN with multi-probe SRP-LSH: the corpus is bucketed ONCE on
    ``bucket_bits`` JL sign bits; each query scans its own bucket plus
    ``nprobe - 1`` Hamming-1 buckets chosen by sign confidence, then
    exact-cosine rescoring picks top-k. ``n_cand`` (candidates scanned
    per query) rides along — the certified work bound: expected
    nprobe · N / 2^bucket_bits rows per query instead of N.

    At 100 TB the corpus-side projection+bucket is one map-only pass,
    the probe join is nprobe broadcast-hash lookups per query against a
    bucket-partitioned corpus, and recall is tuned by nprobe (runtime)
    instead of table count (storage) — the reason multi-probe replaced
    multi-table LSH in production systems.
    """
    cb = (jl_project(corpus, vec_col, in_dim, bucket_bits)
          .withColumn("_bucket", srp_bucket(bucket_bits))
          .select(id_col, vec_col, "_bucket"))
    qb = (jl_project(queries, qvec_col, in_dim, bucket_bits)
          .withColumn("_bucket",
                      F.explode(multiprobe_keys(bucket_bits, nprobe)))
          .select(qid_col, qvec_col, "_bucket"))
    scored = (cosine_pairs(cb, qb, "_bucket", id_col, vec_col, qid_col,
                           qvec_col)
              .select(qid_col, "neighbor_id", "cos_sim")
              .withColumn("n_cand",
                          F.count("*").over(Window.partitionBy(qid_col))))
    return top_k_neighbors(scored, k, qid_col)


def assign_cells_gemm(corpus: DataFrame, centroids: list,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_coarse: int | None = None,
                      coarse_probes: int = 4) -> DataFrame:
    """Cell assignment for HUGE codebooks — the >~10^4-cell regime
    where the Column-literal paths (``_cell_sims`` /
    ``two_level_cell``) stop being viable: their codebook is an
    EXPRESSION literal, and building + analyzing a 10^5-cell × dim
    nested literal costs minutes of driver CPU before a single row is
    scored (measured: 10^5 × 16 did not finish expression construction
    in 23 minutes; SCALE.md round-7 note). Here the codebook is DATA —
    one numpy matrix riding into an Arrow ``mapInPandas`` (the
    knn_bruteforce_gemm shape): per record batch one float64 GEMM
    against the whole codebook (``n_coarse=None``), or the two-level
    form (coarse GEMM → top ``coarse_probes`` groups → per-group fine
    GEMM over only the probed groups' centroids).

    Same (rounded-cosine, larger-cell-id) argmax semantics as the
    Column path. BLAS accumulation order can differ from the scalar
    fold in the last ulp, so agreement with the Column path is exact
    except where two cells tie at the 1e-6 grid — immaterial for
    serving (the cell is a partition choice) but the reason this stays
    a pytest-verified op rather than an oracle row. Returns
    (id_col, cell)."""
    import numpy as np
    import pandas as pd

    cid_arr = np.array([cid for cid, _ in centroids], dtype=np.int64)
    order = np.argsort(cid_arr)                 # ascending cell id:
    cid_arr = cid_arr[order]                    # reversed-argmax ties →
    cm = np.asarray([centroids[i][1] for i in order],   # larger cell id
                    dtype=np.float64)
    cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-300)
    n_cells = len(cid_arr)
    use_two_level = n_coarse is not None
    if use_two_level:
        # The coarse codebook is the first n_coarse centroids in
        # ORIGINAL (md5-ordered) list order — the same rows
        # coarse_codebook/two_level_cell promote — NOT the first rows
        # of the id-sorted matrix, which is a different set whenever
        # the md5 order differs from id order; both two-level paths
        # must probe one shared coarse grouping (round-7 ADVICE).
        qm = np.asarray([vec for _cid, vec in centroids[:n_coarse]],
                        dtype=np.float64)
        qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True),
                         1e-300)
        gsim = np.round(cm @ qm.T, 6)
        group_of = (n_coarse - 1) - np.argmax(gsim[:, ::-1], axis=1)
        groups = [np.nonzero(group_of == g)[0] for g in range(n_coarse)]
        p = min(coarse_probes, n_coarse)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vm /= np.maximum(np.linalg.norm(vm, axis=1, keepdims=True),
                             1e-300)
            if not use_two_level:
                s = np.round(vm @ cm.T, 6)
                best = (n_cells - 1) - np.argmax(s[:, ::-1], axis=1)
            else:
                cs = np.round(vm @ qm.T, 6)
                probe = np.argpartition(-cs, p - 1, axis=1)[:, :p]
                best = np.zeros(len(vm), dtype=np.int64)
                bsim = np.full(len(vm), -2.0)
                for g in range(n_coarse):
                    rows = np.nonzero((probe == g).any(axis=1))[0]
                    members = groups[g]
                    if not len(rows) or not len(members):
                        continue
                    fs = np.round(vm[rows] @ cm[members].T, 6)
                    loc = (len(members) - 1) - np.argmax(fs[:, ::-1],
                                                         axis=1)
                    sim = fs[np.arange(len(rows)), loc]
                    cand = members[loc]
                    upd = (sim > bsim[rows]) | (
                        (sim == bsim[rows]) & (cand > best[rows]))
                    best[rows[upd]] = cand[upd]
                    bsim[rows[upd]] = sim[upd]
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "cell": cid_arr[best]})

    return corpus.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, cell long")

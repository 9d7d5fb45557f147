"""Product quantization (ops/pq.py): training determinism, the packed
encoding, the ADC identity (adc_dist == squared L2 between the query
and the candidate's RECONSTRUCTION from codebook centroids), and a
recall sanity floor vs exact integer kNN."""

import math

from pyspark.sql import functions as F

from hops_spark.ops.pq import (PQ_MICRO, pq_adc_topk, pq_encode,
                               pq_subvectors, pq_train)

M, K, D, DS = 4, 8, 16, 4


def _vecs(spark, n=120, seed=7):
    # deterministic pseudo-random embeddings, clustered so PQ has
    # structure to learn: 4 anchor directions + small per-vector noise
    rows = []
    for i in range(n):
        anchor = i % 4
        v = [math.sin(0.7 * anchor * (j + 1))
             + 0.05 * math.sin(seed + i * 13.7 + j * 2.3)
             for j in range(D)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_train_deterministic(spark):
    d = _vecs(spark, n=60)
    assert pq_train(d, m=M, k=K, d=D, iters=2) == \
        pq_train(d, m=M, k=K, d=D, iters=2)


def test_pq_encode_packs_codes(spark):
    d = _vecs(spark, n=40)
    cb = pq_train(d, m=M, k=K, d=D, iters=1)
    bits = max(1, (K - 1).bit_length())
    enc = {r["vec_id"]: r["pq_code"]
           for r in pq_encode(d, cb, m=M, k=K, d=D).collect()}
    # unpack and re-derive codes independently from the subvectors
    subs = pq_subvectors(d, M, D).collect()
    sv_of = {(r["vec_id"], r["sub"]): list(r["sv"]) for r in subs}
    for (vid, sub), sv in sv_of.items():
        best = min((sum((x - c) ** 2 for x, c in zip(sv, cb[(sub, code)])),
                    code) for code in range(K))[1]
        got = (enc[vid] >> (bits * sub)) & ((1 << bits) - 1)
        assert got == best, (vid, sub)


def test_adc_identity_and_self_rank(spark):
    """adc_dist(q, x) must equal the exact squared L2 between q's
    micro-snapped vector and x's reconstruction sum over subspace
    centroids — the defining PQ identity."""
    d = _vecs(spark, n=50)
    cb = pq_train(d, m=M, k=K, d=D, iters=2)
    q = (d.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("q_id"), "embedding"))
    top = pq_adc_topk(d, q, cb, m=M, k=K, d=D, topk=50)
    rows = {(r["q_id"], r["vec_id"]): r["adc_dist"] for r in top.collect()}

    subs = {(r["vec_id"], r["sub"]): list(r["sv"])
            for r in pq_subvectors(d, M, D).collect()}
    code_of = {}
    for (vid, sub), sv in subs.items():
        code_of[(vid, sub)] = min(
            (sum((x - c) ** 2 for x, c in zip(sv, cb[(sub, code)])), code)
            for code in range(K))[1]
    for (qid, vid), got in rows.items():
        want = sum(
            sum((x - c) ** 2 for x, c in zip(
                subs[(qid, s)], cb[(s, code_of[(vid, s)])]))
            for s in range(M))
        assert got == want, (qid, vid)


def test_pq_recall_floor(spark):
    """On clustered data PQ@10 must recover most of the exact integer
    top-10 (self included — its quantization distance is minimal)."""
    d = _vecs(spark, n=120)
    cb = pq_train(d, m=M, k=K, d=D, iters=2)
    q = (d.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("q_id"), "embedding"))
    approx = pq_adc_topk(d, q, cb, m=M, k=K, d=D, topk=10).collect()
    got = {}
    for r in approx:
        got.setdefault(r["q_id"], set()).add(r["vec_id"])

    # exact integer-micro squared-L2 top-10 per query, same tie-break
    vecs = {r["vec_id"]: [math.floor(float(x) * PQ_MICRO)
                          for x in r["embedding"]]
            for r in d.collect()}
    hits = total = 0
    for qid in range(5):
        exact = sorted(
            (sum((a - b) ** 2 for a, b in zip(vecs[qid], v)), vid)
            for vid, v in vecs.items())[:10]
        want = {vid for _, vid in exact}
        hits += len(want & got[qid])
        total += 10
    assert hits / total >= 0.5, f"recall {hits}/{total}"
    # self must rank first (distance to own reconstruction is minimal)
    for r in approx:
        if r["rank"] == 1:
            assert r["vec_id"] == r["q_id"]


def test_ivfpq_probe_matches_restricted_adc(spark, tmp_path):
    """IVF-PQ probe == brute-force ADC ranking restricted to the
    vectors whose coarse cell was probed for that query (self
    excluded) — and the probed cells are a strict subset of all
    cells (the scan really prunes)."""
    from hops_spark.ops.pq import (build_pq_cell_index, pq_adc_topk,
                                   probe_pq_cell_index)
    from hops_spark.ops.similarity import ivf_centroids

    d = _vecs(spark, n=120)
    cents = ivf_centroids(d, 8)
    cb = pq_train(d, m=M, k=K, d=D, iters=2)
    idx = str(tmp_path / "ivfpq")
    build_pq_cell_index(d, cents, cb, idx, m=M, k=K, d=D)

    q = (d.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    top, cells = probe_pq_cell_index(spark, idx, cents, cb, q,
                                     m=M, k=K, d=D, topk=5, nprobe=2)
    got = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["adc_dist"])
           for r in top.collect()}
    assert 0 < len(cells) < 8          # pruned, not a full scan

    # reference: full ADC on the members of the probed cells only
    members = {r["vec_id"]: r["cell"]
               for r in spark.read.parquet(idx).collect()}
    qcells = {}
    # per-query probed cells come from the probe's own assignment rule:
    # recompute via a 1-query probe at nprobe=2 returning cells
    for qid in range(3):
        one = (d.filter(F.col("vec_id") == qid)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
        _, c1 = probe_pq_cell_index(spark, idx, cents, cb, one,
                                    m=M, k=K, d=D, topk=5, nprobe=2)
        qcells[qid] = set(c1)

    full = pq_adc_topk(d, q.withColumnRenamed("q_vec", "embedding"),
                       cb, m=M, k=K, d=D, topk=120)
    ref = {}
    for r in full.collect():
        qid, vid = r["q_id"], r["vec_id"]
        if vid == qid or members[vid] not in qcells[qid]:
            continue
        ref.setdefault(qid, []).append((r["adc_dist"], vid))
    for qid in range(3):
        want = sorted(ref[qid])[:5]
        for rank, (dist, vid) in enumerate(want, 1):
            assert got[(qid, rank)] == (vid, dist), (qid, rank)


def test_streaming_pq_ingest_equals_batch_build(spark, tmp_path):
    """Draining a multi-file vector stream through pq_ingest_stream
    (frozen coarse + PQ codebooks, per-batch append) yields an IVF-PQ
    index whose probe results equal a batch-built index over the same
    vectors — the compressed serving index can be fed continuously."""
    from hops_spark.ops.pq import build_pq_cell_index, probe_pq_cell_index
    from hops_spark.ops.similarity import ivf_centroids
    from hops_spark.streaming import pq_ingest_stream

    d = _vecs(spark, n=120)
    cents = ivf_centroids(d, 8)
    cb = pq_train(d, m=M, k=K, d=D, iters=2)

    src = str(tmp_path / "vec_stream")
    d.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    idx_stream = str(tmp_path / "idx_stream")
    q = pq_ingest_stream(stream, cents, cb, idx_stream,
                         str(tmp_path / "ck"), m=M, k=K, d=D).start()
    q.processAllAvailable()
    q.stop()

    idx_batch = str(tmp_path / "idx_batch")
    build_pq_cell_index(d, cents, cb, idx_batch, m=M, k=K, d=D)

    queries = (d.filter(F.col("vec_id") < 4)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    top_s, cells_s = probe_pq_cell_index(spark, idx_stream, cents, cb,
                                         queries, m=M, k=K, d=D,
                                         topk=5, nprobe=2)
    top_b, cells_b = probe_pq_cell_index(spark, idx_batch, cents, cb,
                                         queries, m=M, k=K, d=D,
                                         topk=5, nprobe=2)
    cols = ["q_id", "rank", "neighbor_id", "adc_dist"]
    assert sorted(map(tuple, top_s.select(*cols).collect())) \
        == sorted(map(tuple, top_b.select(*cols).collect()))
    assert cells_s == cells_b and len(cells_b) > 0


def test_rerank_over_full_shortlist_is_exact_knn(spark):
    """rerank_exact over an all-inclusive shortlist must reproduce
    knn_bruteforce exactly (same rounded-cosine ordering and
    tie-break, self pair dropped) — the degeneracy that pins the
    rerank's semantics. The shortlist includes each query's own row."""
    from hops_spark.ops.similarity import knn_bruteforce, rerank_exact

    d = _vecs(spark, n=60)
    q = (d.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    exact = knn_bruteforce(d, q, k=5)
    allshort = (d.crossJoin(q.select("q_id"))
                 .select("q_id", F.col("vec_id").alias("neighbor_id")))
    rer = rerank_exact(d, q, allshort, k=5)
    cols = ["q_id", "neighbor_id", "cos_sim", "rnk"]
    assert sorted(map(tuple, rer.select(*cols).collect())) \
        == sorted(map(tuple, exact.select(*cols).collect()))


def test_residual_pq_identity_and_recall_gain(spark, tmp_path):
    """IVFADC (residual) checks: (a) the ADC distance equals the exact
    squared L2 between the query's per-cell residual and the
    candidate's residual reconstruction; (b) on clustered data the
    residual encoding's recall@10 vs exact kNN is at least the plain
    IVF-PQ encoding's — quantizing residuals concentrates what each
    sub-codebook must cover (Jégou 2011 §IV)."""
    from hops_spark.ops.pq import (build_pq_cell_index,
                                   build_residual_pq_index,
                                   centroid_micro_map,
                                   probe_pq_cell_index,
                                   probe_residual_pq,
                                   residual_subvectors,
                                   train_residual_pq)
    from hops_spark.ops.similarity import ivf_centroids

    d = _vecs(spark, n=120)
    cents = ivf_centroids(d, 8)
    q = (d.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))

    # --- residual index + probe
    rcb = train_residual_pq(d, cents, m=M, k=K, d=D, iters=2)
    ridx = str(tmp_path / "rpq")
    build_residual_pq_index(d, cents, rcb, ridx, m=M, k=K, d=D)
    rtop, rcells = probe_residual_pq(spark, ridx, cents, rcb, q,
                                     m=M, k=K, d=D, topk=10, nprobe=3)
    rrows = rtop.collect()
    assert 0 < len(rcells) <= 8

    # (a) identity: recompute one query's table by hand
    rsubs = {(r["vec_id"], r["sub"]): (r["cell"], list(r["sv"]))
             for r in residual_subvectors(d, cents, M, D).collect()}
    cmap = {r["cell"]: list(r["cm"]) for r in
            spark.range(1).select(
                F.explode(F.map_entries(centroid_micro_map(cents)))
                 .alias("e"))
                .select(F.col("e.key").alias("cell"),
                        F.col("e.value").alias("cm")).collect()}
    qvecs = {r["vec_id"]: [math.floor(float(x) * PQ_MICRO)
                           for x in r["embedding"]]
             for r in d.filter(F.col("vec_id") < 5).collect()}
    ds = D // M
    for r in rrows[:20]:
        qid, vid = r["q_id"], r["neighbor_id"]
        cell = rsubs[(vid, 0)][0]
        qres = [a - b for a, b in zip(qvecs[qid], cmap[cell])]
        want = 0
        for s in range(M):
            sv = rsubs[(vid, s)][1]
            code = min((sum((x - c) ** 2 for x, c in
                            zip(sv, rcb[(s, cc)])), cc)
                       for cc in range(K))[1]
            qs = qres[s * ds:(s + 1) * ds]
            want += sum((x - c) ** 2
                        for x, c in zip(qs, rcb[(s, code)]))
        assert r["adc_dist"] == want, (qid, vid)

    # --- plain IVF-PQ on the same data for the recall comparison
    pcb = pq_train(d, m=M, k=K, d=D, iters=2)
    pidx = str(tmp_path / "ppq")
    build_pq_cell_index(d, cents, pcb, pidx, m=M, k=K, d=D)
    ptop, _ = probe_pq_cell_index(spark, pidx, cents, pcb, q,
                                  m=M, k=K, d=D, topk=10, nprobe=3)

    vecs = {r["vec_id"]: [math.floor(float(x) * PQ_MICRO)
                          for x in r["embedding"]]
            for r in d.collect()}

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        hits = total = 0
        for qid in range(5):
            exact = sorted(
                (sum((a - b) ** 2 for a, b in zip(vecs[qid], v)), vid)
                for vid, v in vecs.items() if vid != qid)[:10]
            want = {vid for _, vid in exact}
            hits += len(want & got.get(qid, set()))
            total += 10
        return hits / total

    r_rec, p_rec = recall(rrows), recall(ptop.collect())
    assert r_rec >= p_rec, f"residual {r_rec} < plain {p_rec}"
    assert r_rec >= 0.5

"""ANN index build + probe CLI — the end-to-end serving pipeline the
similarity operators compose into (IVF coarse quantizer + int8 scalar
quantization + cell-partitioned parquet layout with partition pruning
at query time).

Build:
    python tools/ann_index.py build SF_DIR INDEX_DIR [n_cells]
        embeddings → k-means-refined IVF codebook (driver-side
        metadata, JSON manifest) → per-vector cell assignment
        (broadcast-argmax narrow pass) + int8 quantization → parquet
        partitioned BY CELL, so a probe reads only nprobe/n_cells of
        the index files (real partition pruning, not a filter over a
        full scan).

Query:
    python tools/ann_index.py query INDEX_DIR [k] [nprobe] [n_queries]
        loads the manifest codebook, probes the nprobe nearest cells
        per query (panel = the smallest-id indexed vectors), scans only
        those cell partitions, exact cosine within candidates.

IVF-PQ (compressed serving — ops/pq.py):
    python tools/ann_index.py build-pq SF_DIR INDEX_DIR [n_cells]
        coarse refined codebook + per-subspace PQ codebooks; vectors
        stored as ONE packed BIGINT per row in cell-partitioned
        parquet (8 bytes of codes vs 256 bytes of float32).
    python tools/ann_index.py query-pq INDEX_DIR [topk] [nprobe] [R]
        ADC over the pruned cells; with R > 0 the R-candidate
        shortlist is reranked at full precision (the two-stage path).

Each phase prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.ops.similarity import (_cell_sims, cosine_pairs,
                                       ivf_centroids, ivf_kmeans_refine,
                                       probe_cells, quantize_int8,
                                       scan_cells, top_k_neighbors)
from hops_spark.session import get_spark


def build(spark, sf_dir: str, index_dir: str, n_cells: int = 16) -> dict:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_kmeans_refine(emb, ivf_centroids(emb, n_cells))
    cell_of = F.array_max(_cell_sims(F.col("embedding"), cents)) \
        .getField("cell")
    q = quantize_int8(emb).withColumnRenamed("q", "q_int8")
    indexed = (emb.withColumn("cell", cell_of)
                  .join(q, "vec_id")
                  .select("vec_id", "cell", "embedding", "scale", "q_int8"))
    indexed.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, "vectors"))
    manifest = {
        "n_cells": n_cells,
        "centroids": [[cid, vec] for cid, vec in cents],
    }
    with open(os.path.join(index_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    n = indexed.count()
    return {"job": "ann_index_build", "sf_dir": sf_dir, "index": index_dir,
            "n_vectors": n, "n_cells": n_cells}


def partition_pruned(df) -> bool:
    """True when a scan in ``df``'s plan has a non-empty
    ``PartitionFilters: [...]`` naming ``cell`` (an unfiltered read
    prints ``PartitionFilters: []``)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any("cell" in f
               for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan))


def query(spark, index_dir: str, k: int = 5, nprobe: int = 2,
          n_queries: int = 5) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("kind") == "ivfpq":
        raise SystemExit(f"{index_dir} is an IVF-PQ index — use query-pq")
    cents = [(int(c), [float(x) for x in v])
             for c, v in manifest["centroids"]]
    vectors = spark.read.parquet(os.path.join(index_dir, "vectors"))
    panel = (vectors.orderBy("vec_id").limit(n_queries)
                    .select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec"))
                    .collect())
    # probe cells per query, then ONE pruned scan covering the union of
    # probed cells
    probed = probe_cells(spark.createDataFrame(panel), cents, nprobe)
    pruned, cells_needed = scan_cells(vectors, probed)
    scored = cosine_pairs(pruned, probed, "cell")
    top = top_k_neighbors(scored.select("q_id", "neighbor_id", "cos_sim"), k)
    results = [r.asDict() for r in top.orderBy("q_id", "rnk").collect()]
    return {"job": "ann_index_query", "index": index_dir, "k": k,
            "nprobe": nprobe, "cells_probed": cells_needed,
            "n_cells": manifest["n_cells"],
            "partition_pruned": partition_pruned(pruned),
            "results": results}


def build_pq(spark, sf_dir: str, index_dir: str, n_cells: int = 16,
             m: int = 8, k: int = 16, iters: int = 2) -> dict:
    """IVF-PQ build: coarse refined codebook + per-subspace PQ
    codebooks, vectors stored as ONE packed BIGINT in cell-partitioned
    parquet (8 bytes of codes vs 256 bytes of float32). Both books go
    into the JSON manifest — they are the whole model."""
    from hops_spark.ops.pq import build_pq_cell_index, pq_train
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = len(emb.select("embedding").first()[0])
    cents = ivf_kmeans_refine(emb, ivf_centroids(emb, n_cells))
    cb = pq_train(emb, m=m, k=k, d=d, iters=iters)
    build_pq_cell_index(emb, cents, cb, os.path.join(index_dir, "vectors"),
                        m=m, k=k, d=d)
    manifest = {
        "kind": "ivfpq", "n_cells": n_cells, "m": m, "k": k, "d": d,
        "sf_dir": sf_dir,
        "centroids": [[cid, vec] for cid, vec in cents],
        "pq_codebook": [[s, c, v] for (s, c), v in sorted(cb.items())],
    }
    with open(os.path.join(index_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    n = spark.read.parquet(os.path.join(index_dir, "vectors")).count()
    return {"job": "ann_index_build_pq", "sf_dir": sf_dir,
            "index": index_dir, "n_vectors": n, "n_cells": n_cells,
            "m": m, "k": k}


def query_pq(spark, index_dir: str, topk: int = 5, nprobe: int = 2,
             n_queries: int = 4, rerank: int = 0) -> dict:
    """IVF-PQ probe (+ optional exact rerank): ADC over the pruned
    cell partitions; with --rerank R the R-candidate shortlist is
    reranked at full precision against the source table recorded in
    the manifest (the two-stage serving path of ivfpq_rerank)."""
    from hops_spark.ops.pq import probe_pq_cell_index
    from hops_spark.ops.similarity import rerank_exact
    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    cents = [(int(c), [float(x) for x in v])
             for c, v in manifest["centroids"]]
    cb = {(int(s), int(c)): [int(x) for x in v]
          for s, c, v in manifest["pq_codebook"]}
    m, k, d = manifest["m"], manifest["k"], manifest["d"]
    src = load_table(spark, manifest["sf_dir"], "embeddings") \
        .select("vec_id", "embedding")
    queries = (src.orderBy("vec_id").limit(n_queries)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    shortlist_k = max(topk, rerank)
    top, cells = probe_pq_cell_index(
        spark, os.path.join(index_dir, "vectors"), cents, cb, queries,
        m=m, k=k, d=d, topk=shortlist_k, nprobe=nprobe)
    if rerank:
        out, rank = rerank_exact(src, queries, top, k=topk), "rnk"
    else:
        out, rank = top.select("q_id", "neighbor_id", "adc_dist",
                               "rank"), "rank"
    results = [r.asDict() for r in out.orderBy("q_id", rank).collect()]
    return {"job": "ann_index_query_pq", "index": index_dir,
            "topk": topk, "nprobe": nprobe, "rerank": rerank,
            "cells_probed": cells, "n_cells": manifest["n_cells"],
            "results": results}


def main() -> None:
    cmd, *rest = sys.argv[1:]
    spark = get_spark("ann-index")
    if cmd == "build":
        sf_dir, index_dir = rest[0], rest[1]
        n_cells = int(rest[2]) if len(rest) > 2 else 16
        print(json.dumps(build(spark, sf_dir, index_dir, n_cells)))
    elif cmd == "query":
        index_dir = rest[0]
        k = int(rest[1]) if len(rest) > 1 else 5
        nprobe = int(rest[2]) if len(rest) > 2 else 2
        print(json.dumps(query(spark, index_dir, k, nprobe)))
    elif cmd == "build-pq":
        sf_dir, index_dir = rest[0], rest[1]
        n_cells = int(rest[2]) if len(rest) > 2 else 16
        print(json.dumps(build_pq(spark, sf_dir, index_dir, n_cells)))
    elif cmd == "query-pq":
        index_dir = rest[0]
        topk = int(rest[1]) if len(rest) > 1 else 5
        nprobe = int(rest[2]) if len(rest) > 2 else 2
        rerank = int(rest[3]) if len(rest) > 3 else 0
        print(json.dumps(query_pq(spark, index_dir, topk, nprobe,
                                  rerank=rerank)))
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()

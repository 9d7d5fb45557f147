"""ANN index CLI: build writes a cell-partitioned index + manifest; a
probe reads only the probed cells (partition pruning) and returns the
same neighbors as the direct IVF operator with the same codebook."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from ann_index import build, partition_pruned, query  # noqa: E402


def test_ann_index_build_and_probe(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "index")
    b = build(spark, sf_dir, idx, n_cells=8)
    assert b["n_vectors"] == spark.read.parquet(
        f"{sf_dir}/embeddings.parquet").count()
    # layout: one subdir per non-empty cell, plus the manifest
    cells = [d for d in os.listdir(os.path.join(idx, "vectors"))
             if d.startswith("cell=")]
    assert 1 <= len(cells) <= 8
    manifest = json.load(open(os.path.join(idx, "manifest.json")))
    assert len(manifest["centroids"]) == 8

    q = query(spark, idx, k=3, nprobe=2, n_queries=4)
    assert q["cells_probed"] and len(q["cells_probed"]) <= 8
    # the probe scan is pruned; an unfiltered read of the index is not
    assert q["partition_pruned"] is True
    assert not partition_pruned(
        spark.read.parquet(os.path.join(idx, "vectors")))
    per_query = {}
    for r in q["results"]:
        per_query.setdefault(r["q_id"], []).append(r)
    assert set(per_query) == {r["q_id"] for r in q["results"]}
    for rows in per_query.values():
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)

    # parity with the direct operator on the SAME saved codebook
    from pyspark.sql import functions as F

    from hops_spark.ops.similarity import knn_ivf
    cents = [(int(c), [float(x) for x in v])
             for c, v in manifest["centroids"]]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    panel = (emb.orderBy("vec_id").limit(4)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    direct = knn_ivf(emb, panel, k=3, n_cells=8, nprobe=2, centroids=cents)
    want = {(r["q_id"], r["rnk"]): r["neighbor_id"]
            for r in direct.collect()}
    got = {(r["q_id"], r["rnk"]): r["neighbor_id"] for r in q["results"]}
    assert got == want


def test_probe_cell_index_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probe's file scan must read ONLY the probed cell partitions:
    PartitionFilters carries the literal cell IN (...) and the file
    count equals the probed-cell directory count, not the full index."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.similarity import (build_cell_index, ivf_centroids,
                                           probe_cell_index)

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, 16)
    idx = str(tmp_path / "vectors")
    build_cell_index(e, cents, idx)
    queries = (e.filter(F.col("vec_id") < 3)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    top, probed = probe_cell_index(spark, idx, cents, queries, k=5, nprobe=2)
    assert 1 <= len(probed) <= 6          # <= n_queries * nprobe
    rows = top.collect()
    assert rows and all(r["rnk"] >= 1 for r in rows)

    # plan-level pruning evidence on the pruned scan itself
    vectors = spark.read.parquet(idx)
    pruned = vectors.where(F.col("cell").isin(probed))
    assert partition_pruned(pruned)
    assert not partition_pruned(vectors)
    n_cells_on_disk = len([d for d in __import__("os").listdir(idx)
                           if d.startswith("cell=")])
    # selectedPartitions: compare scanned file count vs total
    scanned = pruned.select(F.input_file_name()).distinct().count()
    total = vectors.select(F.input_file_name()).distinct().count()
    assert scanned < total or n_cells_on_disk == len(probed)


def _probe_rows(spark, idx, cents, queries, k=5, nprobe=2):
    from hops_spark.ops.similarity import probe_cell_index
    top, _ = probe_cell_index(spark, idx, cents, queries, k, nprobe)
    return sorted(map(tuple, top.select("q_id", "neighbor_id",
                                        "cos_sim", "rnk").collect()))


def test_index_lifecycle_delete_compact_equals_rebuild(spark, sf_dir,
                                                       tmp_path):
    """The lifecycle property: after append + delete (+ optional
    compact), a probe must return EXACTLY what a from-scratch build
    over the surviving vectors returns — tombstoned ids are never
    served, logically (masked) or physically (reclaimed)."""
    import os

    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 8)
    queries = (e.filter(F.col("vec_id") < 4)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    # live index: build on half, append the rest, delete every 4th id
    live = str(tmp_path / "live")
    SIM.build_cell_index(e.filter(F.col("vec_id") % 2 == 0), cents, live)
    SIM.append_cell_index(e.filter(F.col("vec_id") % 2 == 1), cents, live)
    deletes = e.filter(F.col("vec_id") % 4 == 3)
    SIM.delete_from_cell_index(deletes, live)
    # reference: one-shot build over the survivors
    ref = str(tmp_path / "ref")
    SIM.build_cell_index(e.filter(F.col("vec_id") % 4 != 3), cents, ref)
    want = _probe_rows(spark, ref, cents, queries)
    assert _probe_rows(spark, live, cents, queries) == want
    deleted_ids = {r[0] for r in deletes.select("vec_id").collect()}
    assert not deleted_ids & {r[1] for r in
                              _probe_rows(spark, live, cents, queries)}
    # compact (25% tombstoned >= threshold): physical reclaim, same probe
    stats = SIM.compact_cell_index(spark, live, threshold=0.2)
    assert stats["compacted"] is True
    assert stats["n_after"] == stats["n_before"] - stats["n_tombstoned"]
    assert not os.path.isdir(os.path.join(live, SIM.TOMBSTONE_SUBDIR))
    assert SIM.tombstone_fraction(spark, live) == 0.0
    assert _probe_rows(spark, live, cents, queries) == want


def test_compact_below_threshold_is_noop(spark, sf_dir, tmp_path):
    """Below the tombstone-fraction threshold compaction must not
    rewrite anything: same files on disk, tombstones retained, probes
    still masked."""
    import glob as _glob

    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 8)
    idx = str(tmp_path / "idx")
    SIM.build_cell_index(e, cents, idx)
    SIM.delete_from_cell_index(e.filter(F.col("vec_id") == 7), idx)
    files_before = sorted(_glob.glob(idx + "/cell=*/**", recursive=True))
    stats = SIM.compact_cell_index(spark, idx, threshold=0.2)
    assert stats["compacted"] is False
    assert stats["n_tombstoned"] == 1
    assert sorted(_glob.glob(idx + "/cell=*/**", recursive=True)) \
        == files_before
    queries = (e.filter(F.col("vec_id") < 4)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    assert 7 not in {r[1] for r in _probe_rows(spark, idx, cents, queries)}


def test_probe_cell_index_gemm_preserves_qid_type(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """Round-7 ADVICE regression: the GEMM probe branch must preserve
    the caller's qid column type (the Column branch always did) — a
    non-long q_id used to break or silently coerce only above
    GEMM_ASSIGN_CELLS. Forced down, INT q_ids must survive with their
    type and the results must equal the Column branch's."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 16)
    idx = str(tmp_path / "vectors")
    SIM.build_cell_index(e, cents, idx)
    queries = (e.filter(F.col("vec_id") < 3)
                .select(F.col("vec_id").cast("int").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    top_col, _ = SIM.probe_cell_index(spark, idx, cents, queries,
                                      k=5, nprobe=2)
    want = sorted(map(tuple, top_col.select(
        "q_id", "neighbor_id", "rnk").collect()))
    monkeypatch.setattr(SIM, "GEMM_ASSIGN_CELLS", 8)
    top_gemm, _ = SIM.probe_cell_index(spark, idx, cents, queries,
                                       k=5, nprobe=2)
    assert top_gemm.schema["q_id"].dataType.simpleString() == "int"
    got = sorted(map(tuple, top_gemm.select(
        "q_id", "neighbor_id", "rnk").collect()))
    assert got == want and len(got) > 0


def test_append_cell_index_equals_full_build(spark, sf_dir, tmp_path):
    """Build on half the corpus, append the other half against the
    SAME frozen codebook: every probe must return exactly the rows a
    one-shot full build returns (incremental ingest is lossless)."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.similarity import (append_cell_index,
                                           build_cell_index, ivf_centroids,
                                           probe_cell_index)

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, 8)
    mid = e.agg(F.expr("percentile_approx(vec_id, 0.5)")).collect()[0][0]

    full_dir = str(tmp_path / "full")
    build_cell_index(e, cents, full_dir)
    inc_dir = str(tmp_path / "inc")
    build_cell_index(e.filter(F.col("vec_id") <= mid), cents, inc_dir)
    append_cell_index(e.filter(F.col("vec_id") > mid), cents, inc_dir)

    queries = (e.filter(F.col("vec_id") < 4)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    t_full, _ = probe_cell_index(spark, full_dir, cents, queries, 5, 2)
    t_inc, _ = probe_cell_index(spark, inc_dir, cents, queries, 5, 2)
    want = {(r["q_id"], r["rnk"]): (r["neighbor_id"], r["cos_sim"])
            for r in t_full.collect()}
    got = {(r["q_id"], r["rnk"]): (r["neighbor_id"], r["cos_sim"])
           for r in t_inc.collect()}
    assert got == want and len(want) > 0


def test_streaming_ann_ingest_equals_batch_build(spark, sf_dir, tmp_path):
    """Streaming ANN ingest (foreachBatch + frozen-codebook append):
    after draining a multi-file vector stream into the index, probing
    it returns EXACTLY what probing a batch-built index over the same
    vectors returns — the serving index can be fed continuously."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.similarity import (build_cell_index, ivf_centroids,
                                           probe_cell_index)
    from hops_spark.streaming import ann_ingest_stream

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, 8)
    src = str(tmp_path / "vec_stream")
    e.repartition(4).write.mode("overwrite").parquet(src)

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    idx_stream = str(tmp_path / "idx_stream")
    q = ann_ingest_stream(stream, cents, idx_stream,
                          str(tmp_path / "ck")).start()
    q.processAllAvailable()
    q.stop()

    idx_batch = str(tmp_path / "idx_batch")
    build_cell_index(e, cents, idx_batch)

    queries = (e.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    top_s, cells_s = probe_cell_index(spark, idx_stream, cents, queries,
                                      k=5, nprobe=2)
    top_b, cells_b = probe_cell_index(spark, idx_batch, cents, queries,
                                      k=5, nprobe=2)
    cols = ["q_id", "neighbor_id", "cos_sim", "rnk"]
    assert sorted(map(tuple, top_s.select(*cols).collect())) \
        == sorted(map(tuple, top_b.select(*cols).collect()))
    assert cells_s == cells_b


def test_compact_crash_between_renames_self_heals(spark, sf_dir, tmp_path):
    """A compaction that died between rename(index, old) and
    rename(staging, index) leaves no index dir; the next call must
    roll the old sibling back and proceed normally."""
    import os

    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 8)
    idx = str(tmp_path / "idx")
    SIM.build_cell_index(e, cents, idx)
    SIM.delete_from_cell_index(e.filter(F.col("vec_id") % 2 == 0), idx)
    # simulate the mid-swap crash: index dir moved aside, no staging
    os.rename(idx, idx + "_compact_old")
    assert not os.path.isdir(idx)
    stats = SIM.compact_cell_index(spark, idx, threshold=0.2)
    assert os.path.isdir(idx) and stats["compacted"] is True
    assert stats["n_after"] == stats["n_before"] - stats["n_tombstoned"]
    q = (e.filter(F.col("vec_id") < 2)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    got, _cells = SIM.probe_cell_index(spark, idx, cents, q, k=3)
    assert got.count() > 0

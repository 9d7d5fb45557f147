"""HopsFS-style metadata catalog as DataFrames (SURVEY.md §1.4, §2.11).

The reference stores NameNode state as relational tables in RonDB —
inodes keyed by (name, parentId, partitionId) with partition-pruned
index scans (BaseINodeLock.java:69-118), plus blocks/replicas/leases
and a MetadataLogEntry CDC stream. Here the same model is a catalog of
DataFrames; the 100 TB layout rule is: partition `inodes` storage by a
hash of parent (the reference's partitionId is exactly that —
directory children co-located), so listings are partition-pruned scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hops_spark.io.readers import load_table

INODE_SCHEMA = T.StructType([
    T.StructField("inode_id", T.LongType(), False),
    T.StructField("parent", T.StringType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
    T.StructField("name", T.StringType(), False),
    T.StructField("is_dir", T.BooleanType(), False),
    T.StructField("size", T.LongType(), True),
    T.StructField("mtime", T.TimestampType(), True),
    T.StructField("owner", T.StringType(), True),
    # Inline small-file storage (reference INodeFile.storeFileDataInDB,
    # INodeFile.java:204, ≤64 KB in-DB) — the multimodal column pattern.
    T.StructField("small_file_data", T.BinaryType(), True),
])

METADATA_LOG_SCHEMA = T.StructType([
    T.StructField("tx_id", T.LongType(), False),
    T.StructField("inode_id", T.LongType(), False),
    T.StructField("parent", T.StringType(), True),
    T.StructField("op", T.StringType(), False),       # ADD | DELETE | UPDATE | RENAME
    T.StructField("size_delta", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), False),
])

N_PARTITIONS = 64  # partitionId space; children of a dir share one partition


def with_partition_id(df: DataFrame, parent_col: str = "parent") -> DataFrame:
    """Assign the reference's partitionId: hash(parent) — co-locates a
    directory's children so listings prune to one partition."""
    return df.withColumn("partition_id",
                         F.pmod(F.abs(F.hash(F.col(parent_col))), F.lit(N_PARTITIONS))
                          .cast("int"))


def inodes_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic inode tree derived from the documents fixture:
    source → directory, document → file (name='doc_<id>', size=n_chars).
    Used by the oracle-gated §2.11 queries."""
    d = load_table(spark, sf_dir, "documents")
    files = d.select(F.col("doc_id").alias("inode_id"),
                     F.col("source").alias("parent"),
                     F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("name"),
                     F.col("n_chars").cast("long").alias("size"))
    return with_partition_id(files)


def listing(inodes: DataFrame, parent: str, batch: int = 1000) -> DataFrame:
    """getListing: partition-pruned children scan, name-ordered, batched
    (reference FSDirStatAndListingOp.getListing / PPIS)."""
    return (inodes.filter(F.col("parent") == parent)
                  .orderBy("name").limit(batch))


def file_info(inodes: DataFrame, parent: str, name: str) -> DataFrame:
    """getFileInfo: PK point lookup (name, parent[, partition])."""
    return inodes.filter((F.col("parent") == parent) & (F.col("name") == name))


def batched_lookup(inodes: DataFrame, keys: DataFrame) -> DataFrame:
    """Batched PK ops (BaseINodeLock.lockInodesUsingPkBatchTx): broadcast
    the key list, join — no shuffle of the big table."""
    return inodes.join(F.broadcast(keys), ["parent", "name"], "left_semi")


def glob_status(inodes: DataFrame, pattern: str) -> DataFrame:
    """globStatus: glob → anchored regex over names."""
    rx = "^" + pattern.replace(".", r"\.").replace("*", ".*").replace("?", ".") + "$"
    return inodes.filter(F.col("name").rlike(rx))


def content_summary(inodes: DataFrame) -> DataFrame:
    """du / getContentSummary per directory."""
    return (inodes.groupBy(F.col("parent").alias("dir"))
                  .agg(F.count("*").alias("n_files"),
                       F.sum("size").alias("total_bytes")))


BLOCK_SIZE = 16_384     # fixture-scale block size (reference: 64-128 MB)
N_DATANODES = 16
REPLICATION = 3


def blocks_from_inodes(inodes: DataFrame) -> DataFrame:
    """blocks table (reference BlockInfoContext / BlockInfoDALAdaptor):
    one row per block of each file — block_id, inode_id, block_index,
    num_bytes (last block partial). Derived deterministically so the
    DuckDB oracle rebuilds it bit-for-bit."""
    n_blocks = F.greatest(F.ceil(F.col("size") / BLOCK_SIZE), F.lit(1)).cast("int")
    ex = inodes.select(
        "inode_id", "size",
        F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("block_index"))
    return ex.select(
        (F.col("inode_id") * 1024 + F.col("block_index")).alias("block_id"),
        "inode_id", "block_index",
        F.least(F.lit(BLOCK_SIZE),
                F.col("size") - F.col("block_index") * BLOCK_SIZE)
         .cast("long").alias("num_bytes"))


def replicas_from_blocks(blocks: DataFrame) -> DataFrame:
    """replicas table (reference ReplicaContext): REPLICATION rows per
    block, datanode placement + ~2% deterministic loss (md5-derived) so
    under-replication analytics have subject matter."""
    ex = blocks.select(
        "block_id",
        F.explode(F.sequence(F.lit(0), F.lit(REPLICATION - 1))).alias("replica_idx"))
    mix = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col("block_id").cast("string"),
        F.col("replica_idx").cast("string"))), 1, 7), 16, 10).cast("long")
    return (ex.withColumn("datanode_id",
                          F.pmod(mix, F.lit(N_DATANODES)).cast("int"))
              .withColumn("is_lost", F.pmod(mix, F.lit(50)) == 0)
              .filter(~F.col("is_lost"))
              .drop("is_lost"))


# --- Subtree operations (SURVEY §2.11 "subtree ops") --------------------
#
# Reference: FSNamesystem.java:7398 lockSubtree + delete/renameTo — a big
# directory mutation takes a subtree lock, then executes as MANY bounded
# DB transactions (batched PK ranges over the inodes table), leaf levels
# first, each batch also appending MetadataLogEntry rows for the CDC /
# quota pipeline. The Spark realization keeps exactly that shape:
# membership is a path-prefix filter, the transaction chunking is a
# map-only PK-range bucket (floor(inode_id / batch)) per depth level, and
# deeper levels get strictly smaller... larger-priority tx ids so a
# replayer commits leaves before their parents. No global row_number —
# a total order over the subtree would serialize on one partition at
# 100 TB; PK-range chunks are what the reference itself uses for its
# batched transactions.

_TX_LEVEL_STRIDE = 1 << 40  # tx_id = level_rank * stride + pk_chunk


def subtree_members(inodes: DataFrame, root: str) -> DataFrame:
    """All inodes inside the subtree rooted at directory ``root``:
    direct children (parent == root) plus every descendant
    (parent starts with 'root/')."""
    return inodes.filter((F.col("parent") == root)
                         | F.col("parent").startswith(root + "/"))


def _leaf_first_tx(mem: DataFrame, batch: int) -> DataFrame:
    """Assign leaf-first batched tx ids. Depth ranks are collected to the
    driver — contractually tiny (bounded by max path depth, the
    reference caps at PATH_MAX components), like the IVF codebook."""
    mem = mem.withColumn("_depth", F.size(F.split(F.col("parent"), "/")))
    depths = sorted((r[0] for r in mem.select("_depth").distinct().collect()),
                    reverse=True)
    rank = F.lit(None).cast("long")
    for i, d in enumerate(depths):
        rank = F.when(F.col("_depth") == d, F.lit(i).cast("long")).otherwise(rank)
    return mem.withColumn(
        "tx_id",
        rank * F.lit(_TX_LEVEL_STRIDE)
        + F.floor(F.col("inode_id") / F.lit(batch)).cast("long"))


def subtree_delete(inodes: DataFrame, root: str,
                   batch: int = 1000) -> tuple[DataFrame, DataFrame]:
    """Batched subtree delete. Returns ``(post_state, log)``:
    ``post_state`` = inodes minus the subtree; ``log`` = one DELETE
    MetadataLogEntry per removed inode with its leaf-first batch tx_id.
    Log convention matches cdc.quota_deltas: size_delta carries the
    positive magnitude and the op supplies the sign (DELETE → −)."""
    mem = _leaf_first_tx(subtree_members(inodes, root), batch)
    log = mem.select("tx_id", "inode_id", "parent",
                     F.lit("DELETE").alias("op"),
                     F.col("size").alias("size_delta"),
                     F.current_timestamp().alias("ts"))
    post = inodes.join(mem.select("inode_id"), "inode_id", "left_anti")
    return post, log


def subtree_rename(inodes: DataFrame, src: str, dst: str,
                   batch: int = 1000) -> tuple[DataFrame, DataFrame]:
    """Batched subtree rename src → dst. parent paths are prefix-
    rewritten and partition ids recomputed (children move to the
    destination directory's partition); every moved inode logs a RENAME
    entry (size_delta 0 — quota-neutral within the subtree; the
    reference adjusts only the two ancestor chains)."""
    mem = _leaf_first_tx(subtree_members(inodes, src), batch)
    moved = mem.withColumn(
        "parent",
        F.concat(F.lit(dst), F.expr(f"substring(parent, {len(src) + 1})")))
    moved = with_partition_id(moved)
    log = moved.select("tx_id", "inode_id", "parent",
                       F.lit("RENAME").alias("op"),
                       F.lit(0).cast("long").alias("size_delta"),
                       F.current_timestamp().alias("ts"))
    keep = inodes.join(mem.select("inode_id"), "inode_id", "left_anti")
    post = keep.unionByName(moved.select(*keep.columns))
    return post, log


def ancestor_rollup(inodes: DataFrame) -> DataFrame:
    """Recursive getContentSummary for EVERY directory at once (du over
    the whole namespace; reference FSDirStatAndListingOp recursion /
    QuotaUpdateManager ancestor propagation): each file contributes its
    (count, size) to every ancestor of its parent path.

    NOT an iterative parent-join (tree-depth rounds of shuffles): path
    prefixes are expanded array-side — 'a/b/c' → ['a','a/b','a/b/c'] —
    in ONE narrow pass, then a single groupBy(ancestor) aggregates.
    Output rows = number of directories; shuffle volume = files ×
    path depth, the same order as the input listing itself."""
    parts = F.split(F.col("parent"), "/")
    ancestors = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, 1, i), "/"))
    return (inodes.select(F.explode(ancestors).alias("dir"),
                          F.col("size"))
                  .groupBy("dir")
                  .agg(F.count("*").alias("n_files"),
                       F.sum("size").alias("total_bytes"))
                  )

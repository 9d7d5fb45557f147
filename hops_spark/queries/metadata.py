"""Metadata-engine inventory queries (SURVEY.md §1.4, §2.11) — the
HopsFS "file-system metadata as relational tables" surface.

The catalog layer (hops_spark/catalog/) models inodes as a DataFrame
with the reference's (name, parent, partition) addressing
(BaseINodeLock.java:69-118). For the oracle gate we derive a
deterministic inode tree from the `documents` fixture: each `source` is
a directory under root, each document a file inode
(name='doc_<id>', size=n_chars) — both engines build it identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.catalog.metastore import inodes_from_documents, subtree_delete
from hops_spark.io.readers import load_table
from hops_spark.registry import register

_DUCK_INODES = """
    WITH inodes AS (
        SELECT doc_id AS inode_id,
               source AS parent,
               'doc_' || CAST(doc_id AS VARCHAR) AS name,
               n_chars AS size
        FROM documents
    )
"""


@register(
    "meta_get_listing",
    sql=_DUCK_INODES + """
    SELECT parent, name, inode_id, size
    FROM inodes
    WHERE parent = 'src1'
    ORDER BY name
    LIMIT 100
    """,
    doc="getListing: children of a directory ordered by name, batched "
        "(reference FSDirStatAndListingOp.java:80-113; partition-pruned "
        "scan per BaseINodeLock PPIS — realized as partition filter).",
    tags=("metadata",),
)
def meta_get_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    return (ino.filter(F.col("parent") == "src1")
               .select("parent", "name", "inode_id", "size")
               .orderBy("name").limit(100))


@register(
    "meta_content_summary",
    sql=_DUCK_INODES + """
    SELECT parent AS dir, count(*) AS n_files,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           max(size) AS max_file, min(size) AS min_file
    FROM inodes
    GROUP BY parent
    ORDER BY dir
    """,
    doc="getContentSummary / du: per-directory recursive count+sum "
        "(reference FileSystem.java:1767; QuotaUpdateManager maintains "
        "these incrementally — streaming twin in catalog/cdc.py).",
    tags=("metadata", "agg"),
)
def meta_content_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    return (ino.groupBy(F.col("parent").alias("dir"))
               .agg(F.count("*").alias("n_files"), F.sum("size").alias("total_bytes"),
                    F.max("size").alias("max_file"), F.min("size").alias("min_file"))
               .orderBy("dir"))


@register(
    "meta_glob_status",
    sql=_DUCK_INODES + """
    SELECT parent, name, size
    FROM inodes
    WHERE regexp_matches(name, '^doc_1[0-9]$')
    ORDER BY parent, name
    """,
    doc="globStatus: glob 'doc_1?' → regex scan over the namespace "
        "(reference FileSystem.java:2042).",
    tags=("metadata",),
)
def meta_glob_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    return (ino.filter(F.col("name").rlike("^doc_1[0-9]$"))
               .select("parent", "name", "size")
               .orderBy("parent", "name"))


@register(
    "meta_point_lookup",
    sql=_DUCK_INODES + """
    SELECT inode_id, parent, name, size
    FROM inodes
    WHERE name = 'doc_42'
    ORDER BY inode_id
    """,
    doc="getFileInfo: PK point lookup by (name, parent) "
        "(reference FSDirStatAndListingOp.java:137-141; batched PK ops = "
        "broadcast join against a key list).",
    tags=("metadata",),
)
def meta_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    return (ino.filter(F.col("name") == "doc_42")
               .select("inode_id", "parent", "name", "size")
               .orderBy("inode_id"))


@register(
    "meta_batched_lookup",
    sql=_DUCK_INODES + """
    , keys AS (
        SELECT parent, name FROM inodes WHERE inode_id IN (1, 2, 3)
        UNION ALL
        SELECT 'src0', 'doc_999999'
    )
    SELECT i.inode_id, i.parent, i.name, i.size
    FROM inodes i
    JOIN keys k ON i.parent = k.parent AND i.name = k.name
    ORDER BY inode_id
    """,
    doc="Batched PK point lookups (BaseINodeLock.lockInodesUsingPkBatchTx, "
        "BaseINodeLock.java:108-111): broadcast-join a key list against "
        "the namespace — one scan for N lookups, no shuffle of inodes. "
        "Key list: real PKs of inodes 1-3 plus one miss.",
    tags=("metadata", "join"),
)
def meta_batched_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    real = (ino.filter(F.col("inode_id").isin(1, 2, 3))
               .select("parent", "name"))
    miss = spark.createDataFrame([("src0", "doc_999999")],
                                 "parent string, name string")
    keys = real.unionByName(miss)
    return (ino.join(F.broadcast(keys), ["parent", "name"], "left_semi")
               .select("inode_id", "parent", "name", "size")
               .orderBy("inode_id"))


@register(
    "meta_quota_rollup",
    sql=_DUCK_INODES + """
    , per_dir AS (
        SELECT parent AS dir, count(*) AS ns_delta,
               CAST(sum(size) AS BIGINT) AS ds_delta
        FROM inodes GROUP BY parent
    )
    SELECT 'root' AS dir, CAST(sum(ns_delta) AS BIGINT) AS namespace,
           CAST(sum(ds_delta) AS BIGINT) AS diskspace
    FROM per_dir
    UNION ALL
    SELECT dir, ns_delta AS namespace, ds_delta AS diskspace FROM per_dir
    ORDER BY dir
    """,
    doc="Quota rollup up the directory tree (QuotaUpdateManager.java:109-209 "
        "batched delta aggregation): per-dir + root totals; incremental "
        "streaming twin in catalog/cdc.py.",
    tags=("metadata", "agg"),
)
def meta_quota_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    per_dir = (ino.groupBy(F.col("parent").alias("dir"))
                  .agg(F.count("*").alias("ns_delta"), F.sum("size").alias("ds_delta")))
    root = per_dir.agg(F.sum("ns_delta").alias("namespace"),
                       F.sum("ds_delta").alias("diskspace")) \
                  .select(F.lit("root").alias("dir"), "namespace", "diskspace")
    leaf = per_dir.select("dir", F.col("ns_delta").alias("namespace"),
                          F.col("ds_delta").alias("diskspace"))
    return root.unionByName(leaf).orderBy("dir")


@register(
    "meta_path_resolve",
    sql=_DUCK_INODES + """
    , paths AS (
        SELECT * FROM (VALUES ('src1/doc_1'), ('src2/doc_2'),
                              ('src3/doc_3'), ('src0/doc_999999')) AS t(path)
    ), comps AS (
        SELECT path, string_split(path, '/')[1] AS dir_name,
               string_split(path, '/')[2] AS file_name
        FROM paths
    ), dirs AS (SELECT DISTINCT parent AS dir_name FROM inodes)
    SELECT c.path, i.inode_id, i.size
    FROM comps c
    JOIN dirs d ON d.dir_name = c.dir_name
    JOIN inodes i ON i.parent = c.dir_name AND i.name = c.file_name
    ORDER BY path
    """,
    doc="Path resolution (iterated PK lookups component-by-component, "
        "memoized in InMemoryCache.java:32): resolve 'dir/file' paths "
        "level-by-level — dir existence via the cached dimension, file "
        "via (parent, name) PK join. Misses drop out (inner join), "
        "matching resolve semantics.",
    tags=("metadata", "join"),
)
def meta_path_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    paths = spark.createDataFrame(
        [("src1/doc_1",), ("src2/doc_2",), ("src3/doc_3",), ("src0/doc_999999",)],
        "path string")
    comps = paths.select(
        "path",
        F.split("path", "/").getItem(0).alias("dir_name"),
        F.split("path", "/").getItem(1).alias("file_name"))
    # dirs is the small memoized dimension (path->id cache in the
    # reference); broadcast — resolving never shuffles the namespace.
    dirs = ino.select(F.col("parent").alias("dir_name")).distinct()
    return (comps.join(F.broadcast(dirs), "dir_name")
                 .join(ino, (F.col("parent") == F.col("dir_name"))
                            & (F.col("name") == F.col("file_name")))
                 .select("path", "inode_id", "size")
                 .orderBy("path"))


_DUCK_BLOCKS = _DUCK_INODES + """
    , blocks AS (
        SELECT inode_id * 1024 + bi AS block_id, inode_id, bi AS block_index,
               least(16384, size - bi * 16384)::BIGINT AS num_bytes
        FROM (SELECT inode_id, size,
                     unnest(generate_series(0,
                         greatest(CAST(ceil(size / 16384.0) AS INT), 1) - 1)) AS bi
              FROM inodes)
    ), replicas AS (
        SELECT block_id, ri AS replica_idx,
               CAST(mix % 16 AS INT) AS datanode_id
        FROM (SELECT block_id, ri,
                     ('0x' || substring(md5(CAST(block_id AS VARCHAR) || '|'
                                            || CAST(ri AS VARCHAR)), 1, 7))::BIGINT AS mix
              FROM blocks, (VALUES (0), (1), (2)) AS t(ri))
        WHERE mix % 50 <> 0
    )
"""


@register(
    "meta_block_report",
    sql=_DUCK_BLOCKS + """
    SELECT r.datanode_id, count(*) AS n_replicas,
           CAST(sum(b.num_bytes) AS BIGINT) AS stored_bytes
    FROM replicas r JOIN blocks b USING (block_id)
    GROUP BY datanode_id
    ORDER BY datanode_id
    """,
    doc="blockReport analytics (reference BlockInfoContext/ReplicaContext "
        "tables; NNThroughputBenchmark -op blockReport): per-datanode "
        "replica count and stored bytes over the blocks⋈replicas tables.",
    tags=("metadata", "agg"),
)
def meta_block_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.catalog.metastore import blocks_from_inodes, replicas_from_blocks
    ino = inodes_from_documents(spark, sf_dir)
    blocks = blocks_from_inodes(ino)
    reps = replicas_from_blocks(blocks)
    return (reps.join(blocks, "block_id")
                .groupBy("datanode_id")
                .agg(F.count("*").alias("n_replicas"),
                     F.sum("num_bytes").alias("stored_bytes"))
                .orderBy("datanode_id"))


@register(
    "meta_under_replicated",
    sql=_DUCK_BLOCKS + """
    SELECT b.block_id, b.inode_id, count(r.replica_idx) AS live_replicas
    FROM blocks b LEFT JOIN replicas r USING (block_id)
    GROUP BY b.block_id, b.inode_id
    HAVING count(r.replica_idx) < 3
    ORDER BY block_id
    """,
    doc="Under-replicated block scan — the query the reference's "
        "MapReduceBlockRepairManager plans repairs from "
        "(hops-erasure-coding-project; ReplicaContext). Left join keeps "
        "fully-lost blocks (0 live replicas) visible.",
    tags=("metadata", "agg", "join"),
)
def meta_under_replicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.catalog.metastore import (REPLICATION, blocks_from_inodes,
                                              replicas_from_blocks)
    ino = inodes_from_documents(spark, sf_dir)
    blocks = blocks_from_inodes(ino)
    reps = replicas_from_blocks(blocks)
    return (blocks.join(reps, "block_id", "left")
                  .groupBy("block_id", "inode_id")
                  .agg(F.count("replica_idx").alias("live_replicas"))
                  .filter(F.col("live_replicas") < REPLICATION)
                  .orderBy("block_id"))


@register(
    "meta_expired_leases",
    sql=_DUCK_INODES + """
    , leases AS (
        SELECT 'writer_' || CAST((inode_id // 20) % 5 AS VARCHAR) AS holder,
               inode_id,
               inode_id % 100 AS renewed_s_ago
        FROM inodes
        WHERE inode_id % 20 = 0
    )
    SELECT holder, count(*) AS n_leases,
           CAST(sum(CASE WHEN renewed_s_ago > 60 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_expired,
           max(renewed_s_ago) AS oldest_s
    FROM leases
    GROUP BY holder
    ORDER BY holder
    """,
    doc="Lease monitoring (reference LeaseContext/LeasePathContext "
        "tables; lease recovery scans these for expired holders): "
        "per-holder open-lease count and expiry census over the "
        "deterministic lease table (every 20th inode open, 5 writers).",
    tags=("metadata", "agg"),
)
def meta_expired_leases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    leases = (ino.filter(F.col("inode_id") % 20 == 0)
                 .select(F.concat(F.lit("writer_"),
                                  ((F.col("inode_id") / 20).cast("long") % 5)
                                  .cast("string")).alias("holder"),
                         "inode_id",
                         (F.col("inode_id") % 100).alias("renewed_s_ago")))
    return (leases.groupBy("holder")
                  .agg(F.count("*").alias("n_leases"),
                       F.sum(F.when(F.col("renewed_s_ago") > 60, 1).otherwise(0))
                        .alias("n_expired"),
                       F.max("renewed_s_ago").alias("oldest_s"))
                  .orderBy("holder"))


@register(
    "meta_subtree_delete",
    sql=_DUCK_INODES + """
    , sub AS (
        SELECT * FROM inodes WHERE parent = 'src1' OR parent LIKE 'src1/%'
    ), post AS (
        SELECT * FROM inodes
        WHERE inode_id NOT IN (SELECT inode_id FROM sub)
    )
    SELECT parent AS dir, count(*) AS n_files,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           CAST(0 AS BIGINT) AS n_batches
    FROM post GROUP BY parent
    UNION ALL
    SELECT 'deleted:src1', count(*), CAST(sum(size) AS BIGINT),
           count(DISTINCT inode_id // 100)
    FROM sub
    ORDER BY dir
    """,
    doc="Subtree delete (reference FSNamesystem.java:7398 lockSubtree + "
        "batched leaf-first delete transactions): remove the 'src1' "
        "subtree in PK-range batches of 100, emit post-state per-dir "
        "content summary plus the deletion accounting row (files, bytes "
        "freed, transaction batch count).",
    tags=("metadata", "mutation"),
)
def meta_subtree_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    post, log = subtree_delete(ino, "src1", batch=100)
    post_sum = (post.groupBy(F.col("parent").alias("dir"))
                    .agg(F.count("*").alias("n_files"),
                         F.sum("size").alias("total_bytes"),
                         F.lit(0).cast("long").alias("n_batches")))
    del_sum = (log.agg(F.count("*").alias("n_files"),
                       F.sum("size_delta").alias("total_bytes"),
                       F.countDistinct("tx_id").alias("n_batches"))
                  .select(F.lit("deleted:src1").alias("dir"),
                          "n_files", "total_bytes", "n_batches"))
    return post_sum.unionByName(del_sum).orderBy("dir")


@register(
    "meta_subtree_rename",
    sql=_DUCK_INODES + """
    , post AS (
        SELECT inode_id,
               CASE WHEN parent = 'src2' OR parent LIKE 'src2/%'
                    THEN 'archive/src2' || substring(parent, 5)
                    ELSE parent END AS parent,
               name, size
        FROM inodes
    )
    SELECT parent AS dir, count(*) AS n_files,
           CAST(sum(size) AS BIGINT) AS total_bytes
    FROM post
    GROUP BY parent
    ORDER BY dir
    """,
    doc="Subtree rename (FSNamesystem.java:7398 lockSubtree + renameTo): "
        "move 'src2' under 'archive/', prefix-rewriting every descendant "
        "parent path in PK-range batches; post-state per-dir summary.",
    tags=("metadata", "mutation"),
)
def meta_subtree_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.catalog.metastore import subtree_rename
    ino = inodes_from_documents(spark, sf_dir)
    post, _log = subtree_rename(ino, "src2", "archive/src2", batch=100)
    return (post.groupBy(F.col("parent").alias("dir"))
                .agg(F.count("*").alias("n_files"),
                     F.sum("size").alias("total_bytes"))
                .orderBy("dir"))


@register(
    "distcp_plan_chunks",
    sql=_DUCK_INODES + """
    , listing AS (
        SELECT 'src/' || parent || '/' || name AS src, size FROM inodes
    ), ranked AS (
        SELECT src, size,
               row_number() OVER (ORDER BY size DESC, src) AS rnk
        FROM listing
    )
    SELECT CAST(rnk % 16 AS BIGINT) AS chunk,
           count(*) AS n_files,
           CAST(sum(size) AS BIGINT) AS chunk_bytes
    FROM ranked
    GROUP BY 1
    ORDER BY chunk
    """,
    doc="DistCp uniform-size copy planning (hadoop-tools/hadoop-distcp "
        "UniformSizeInputFormat): global size-desc rank (two-phase, no "
        "single-partition window) round-robined into copy chunks; the "
        "oracle verifies chunk assignment and the LPT-ish balance "
        "digest (per-chunk file count + bytes).",
    tags=("metadata", "maintenance"),
)
def distcp_plan_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import distcp_plan
    ino = inodes_from_documents(spark, sf_dir)
    listing = ino.select(
        F.concat(F.lit("src/"), F.col("parent"), F.lit("/"), F.col("name"))
         .alias("src"),
        F.col("size"))
    plan = distcp_plan(listing, "src/", "dst/", tasks=16)
    return (plan.groupBy("chunk")
                .agg(F.count("*").alias("n_files"),
                     F.sum("size").alias("chunk_bytes"))
                .withColumn("chunk", F.col("chunk").cast("long"))
                .select("chunk", "n_files", "chunk_bytes")
                .orderBy("chunk"))


@register(
    "meta_du_recursive",
    sql=_DUCK_INODES + """
    , anc AS (
        SELECT unnest(list_transform(
                   range(1, len(string_split(parent, '/')) + 1),
                   i -> array_to_string(string_split(parent, '/')[1:i], '/')))
               AS dir,
               size
        FROM inodes
    )
    SELECT dir, count(*) AS n_files, CAST(sum(size) AS BIGINT) AS total_bytes
    FROM anc
    GROUP BY dir
    ORDER BY dir
    """,
    doc="Recursive du / getContentSummary for every directory in one "
        "pass (FSDirStatAndListingOp recursion): ancestor path prefixes "
        "expanded array-side per file, single groupBy — no per-level "
        "join iteration, shuffle volume ~ files × depth.",
    tags=("metadata", "agg"),
)
def meta_du_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.catalog.metastore import ancestor_rollup
    ino = inodes_from_documents(spark, sf_dir)
    return ancestor_rollup(ino).orderBy("dir")


_INLINE_MAX = 1200  # bytes; reference default is 64 KB (DFSConfigKeys.java:178)


@register(
    "meta_inline_read",
    sql=f"""
    SELECT source AS parent,
           'doc_' || CAST(doc_id AS VARCHAR) AS name,
           CAST(n_chars AS BIGINT) AS size,
           CAST(n_chars <= {_INLINE_MAX} AS BOOLEAN) AS served_from_db,
           CASE WHEN n_chars <= {_INLINE_MAX} THEN md5(text) END AS payload_md5
    FROM documents
    WHERE source IN ('src1', 'src2')
    ORDER BY parent, name
    """,
    doc="Inline small-file read path (HopsFS stores <=64 KB files IN "
        "the metadata DB — reference INodeFile.java:204 "
        "storeFileDataInDB; DFSConfigKeys.java:178): small files serve "
        "their payload from the inodes table's binary column in the "
        "same PK read, large files fall through to block resolution. "
        "One partition-pruned scan; payload md5 proves the bytes "
        "round-trip.",
    tags=("metadata", "scan"),
)
def meta_inline_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Populates the schema's ``small_file_data`` column for files under
    the inline threshold (the multimodal binary-column pattern), then
    reads a two-directory batch: inline files emit md5(payload) straight
    from the metadata row — zero extra I/O — while larger files report
    served_from_db=false (their read would consult blocks/replicas,
    cf. meta_block_report)."""
    d = load_table(spark, sf_dir, "documents")
    ino = (d.select(
            F.col("source").alias("parent"),
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("name"),
            F.col("n_chars").cast("long").alias("size"),
            F.when(F.col("n_chars") <= _INLINE_MAX,
                   F.encode("text", "UTF-8")).alias("small_file_data")))
    return (ino.where(F.col("parent").isin("src1", "src2"))
               .select("parent", "name", "size",
                       F.col("small_file_data").isNotNull()
                        .alias("served_from_db"),
                       F.when(F.col("small_file_data").isNotNull(),
                              F.md5(F.col("small_file_data")))
                        .alias("payload_md5"))
               .orderBy("parent", "name"))


@register(
    "meta_rack_placement",
    sql=_DUCK_BLOCKS + """
    , rr AS (
        SELECT block_id, count(*) AS n_replicas,
               count(DISTINCT datanode_id // 4) AS n_racks
        FROM replicas GROUP BY block_id
    )
    SELECT CAST(n_replicas AS BIGINT) AS n_replicas,
           CAST(n_racks AS BIGINT) AS n_racks,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(n_replicas >= 2 AND n_racks < 2 AS BOOLEAN) AS violates_policy
    FROM rr GROUP BY n_replicas, n_racks
    ORDER BY n_replicas, n_racks
    """,
    doc="Rack-awareness placement audit (BlockPlacementPolicyDefault: "
        "replicas of a block must span >= 2 racks): racks = datanode "
        "div 4, census of (n_replicas, n_racks) cells with the "
        "violation flag. One aggregate over the replicas table.",
    tags=("metadata", "maintenance"),
)
def meta_rack_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.catalog.metastore import (blocks_from_inodes,
                                              replicas_from_blocks)
    ino = inodes_from_documents(spark, sf_dir)
    rep = replicas_from_blocks(blocks_from_inodes(ino))
    rr = (rep.groupBy("block_id")
             .agg(F.count("*").alias("n_replicas"),
                  F.countDistinct(F.expr("datanode_id div 4")).alias("n_racks")))
    return (rr.groupBy("n_replicas", "n_racks")
              .agg(F.count("*").alias("n_blocks"))
              .select(F.col("n_replicas").cast("bigint").alias("n_replicas"),
                      F.col("n_racks").cast("bigint").alias("n_racks"),
                      "n_blocks",
                      ((F.col("n_replicas") >= 2) & (F.col("n_racks") < 2))
                      .alias("violates_policy"))
              .orderBy("n_replicas", "n_racks"))


@register(
    "distcp_update_plan",
    sql=_DUCK_INODES + """
    , src AS (
        SELECT parent || '/' || name AS path, CAST(size AS BIGINT) AS src_size
        FROM inodes
    ), tgt AS (
        -- deterministic prior-copy state: every 11th file missing,
        -- every 13th stale (size-1), every 17th id also has an orphan
        SELECT parent || '/' || name AS path,
               CAST(CASE WHEN inode_id % 13 = 0 THEN size - 1 ELSE size END
                    AS BIGINT) AS tgt_size
        FROM inodes WHERE inode_id % 11 <> 0
        UNION ALL
        SELECT 'orphans/extra_' || CAST(inode_id AS VARCHAR),
               CAST(inode_id AS BIGINT)
        FROM inodes WHERE inode_id % 17 = 0
    )
    SELECT coalesce(s.path, t.path) AS path,
           CASE WHEN t.path IS NULL THEN 'copy'
                WHEN s.path IS NULL THEN 'delete'
                WHEN s.src_size <> t.tgt_size THEN 'overwrite'
                ELSE 'skip' END AS action,
           s.src_size, t.tgt_size
    FROM src s FULL OUTER JOIN tgt t ON s.path = t.path
    WHERE NOT (s.path IS NOT NULL AND t.path IS NOT NULL
               AND s.src_size = t.tgt_size)
    ORDER BY path
    """,
    doc="DistCp -update -delete incremental sync plan (hadoop-tools/"
        "hadoop-distcp SimpleCopyListing + CopyMapper skip logic): "
        "full-outer join of source and target listings -> copy "
        "(missing), overwrite (size drift), delete (target orphan); "
        "up-to-date files are skipped. One co-partitioned path join.",
    tags=("metadata", "maintenance", "scan"),
)
def distcp_update_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    src = ino.select(
        F.concat_ws("/", "parent", "name").alias("path"),
        F.col("size").cast("bigint").alias("src_size"))
    tgt_files = (ino.where(F.col("inode_id") % 11 != 0)
                    .select(F.concat_ws("/", "parent", "name").alias("path"),
                            F.when(F.col("inode_id") % 13 == 0,
                                   F.col("size") - 1)
                             .otherwise(F.col("size"))
                             .cast("bigint").alias("tgt_size")))
    orphans = (ino.where(F.col("inode_id") % 17 == 0)
                  .select(F.concat(F.lit("orphans/extra_"),
                                   F.col("inode_id").cast("string")).alias("path"),
                          F.col("inode_id").cast("bigint").alias("tgt_size")))
    tgt = tgt_files.unionByName(orphans)
    j = src.join(tgt, "path", "full_outer")
    action = (F.when(F.col("tgt_size").isNull(), "copy")
               .when(F.col("src_size").isNull(), "delete")
               .when(F.col("src_size") != F.col("tgt_size"), "overwrite")
               .otherwise("skip"))
    return (j.select("path", action.alias("action"), "src_size", "tgt_size")
             .where(F.col("action") != "skip")
             .orderBy("path"))


_TT_T1 = 1000  # as-of cut inside the add/delete interleave


@register(
    "meta_time_travel",
    sql=_DUCK_INODES + f"""
    , log AS (
        SELECT inode_id * 2 AS tx_id, parent, 'ADD' AS op,
               CAST(size AS BIGINT) AS size_delta
        FROM inodes
        UNION ALL
        SELECT inode_id * 2 + 3, parent, 'DELETE',
               CAST(-size AS BIGINT)
        FROM inodes WHERE inode_id % 9 = 0
    )
    SELECT parent AS dir,
           CAST(sum(CASE WHEN tx_id <= {_TT_T1}
                         THEN CASE op WHEN 'ADD' THEN 1 ELSE -1 END
                         ELSE 0 END) AS BIGINT) AS n_files_t1,
           CAST(sum(CASE WHEN tx_id <= {_TT_T1} THEN size_delta ELSE 0 END)
                AS BIGINT) AS bytes_t1,
           CAST(sum(CASE op WHEN 'ADD' THEN 1 ELSE -1 END) AS BIGINT)
               AS n_files_now,
           CAST(sum(size_delta) AS BIGINT) AS bytes_now
    FROM log GROUP BY parent ORDER BY dir
    """,
    doc="Metadata time travel: reconstruct per-directory namespace "
        "state AS OF a transaction id by replaying the MetadataLogEntry "
        "stream (reference MetadataLogEntry / the CDC log ops/cdc.py "
        "tails) — event-sourcing fold, one conditional aggregate for "
        "any number of as-of points. Deterministic log: ADD at tx=2*id, "
        "DELETE of every 9th file at tx=2*id+3.",
    tags=("metadata", "cdc", "streaming"),
)
def meta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-as-of over the metadata log: the same fold the
    incremental quota maintainer applies forward (catalog/cdc.py
    quota_deltas), evaluated at two cuts in ONE map-side-combined
    aggregate — at 100 TB the log is partitioned by dir and each
    as-of point is another conditional sum, never another scan."""
    ino = inodes_from_documents(spark, sf_dir)
    adds = ino.select((F.col("inode_id") * 2).alias("tx_id"), "parent",
                      F.lit(1).alias("cnt"),
                      F.col("size").cast("bigint").alias("size_delta"))
    dels = (ino.where(F.col("inode_id") % 9 == 0)
               .select((F.col("inode_id") * 2 + 3).alias("tx_id"), "parent",
                       F.lit(-1).alias("cnt"),
                       (-F.col("size")).cast("bigint").alias("size_delta")))
    log = adds.unionByName(dels)
    at_t1 = F.col("tx_id") <= _TT_T1
    return (log.groupBy(F.col("parent").alias("dir"))
               .agg(F.sum(F.when(at_t1, F.col("cnt")).otherwise(0))
                     .cast("bigint").alias("n_files_t1"),
                    F.sum(F.when(at_t1, F.col("size_delta")).otherwise(0))
                     .cast("bigint").alias("bytes_t1"),
                    F.sum("cnt").cast("bigint").alias("n_files_now"),
                    F.sum("size_delta").cast("bigint").alias("bytes_now"))
               .orderBy("dir"))


@register(
    "meta_xattr_search",
    sql=_DUCK_INODES + """
    , xattrs AS (
        SELECT inode_id, name, 'user.source' AS xkey, parent AS xval
        FROM inodes
        UNION ALL
        SELECT inode_id, name, 'user.bucket',
               substr(md5('x|' || inode_id), 1, 2)
        FROM inodes
        UNION ALL
        SELECT inode_id, name, 'user.parity',
               CAST(inode_id % 2 AS VARCHAR)
        FROM inodes
    )
    SELECT inode_id, name, xval AS bucket
    FROM xattrs
    WHERE xkey = 'user.bucket' AND xval LIKE 'a%'
    ORDER BY inode_id
    """,
    doc="Extended-attribute search over the metadata tables — the "
        "XAttrContext entity as a relational (inode_id, key, value) "
        "table you can predicate on (reference "
        "io/hops/transaction/context/XAttrContext.java; ops "
        "GET/SET_XATTR in HDFSOperationType). Realized as an explode "
        "of per-inode attrs + a pushable key/value filter — at scale "
        "the xattr table is its own parquet, partition-pruned by key.",
    tags=("metadata",),
)
def meta_xattr_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    xattrs = ino.select(
        "inode_id", "name",
        F.explode(F.array(
            F.struct(F.lit("user.source").alias("xkey"),
                     F.col("parent").alias("xval")),
            F.struct(F.lit("user.bucket").alias("xkey"),
                     F.substring(F.md5(F.concat_ws(
                         "|", F.lit("x"), F.col("inode_id").cast("string"))),
                         1, 2).alias("xval")),
            F.struct(F.lit("user.parity").alias("xkey"),
                     F.pmod("inode_id", F.lit(2)).cast("string").alias("xval")),
        )).alias("x"))
    return (xattrs.filter((F.col("x.xkey") == "user.bucket")
                          & F.col("x.xval").startswith("a"))
                  .select("inode_id", "name", F.col("x.xval").alias("bucket"))
                  .orderBy("inode_id"))


# Snapshot-diff log convention: file id created at tx 2*id; every 3rd
# file deleted 500 tx after creation. Cuts at 600/1200 straddle both
# kinds of change at every fixture SF (ids start at 0), so the diff is
# never vacuously empty.
_SD_T1, _SD_T2 = 600, 1200


@register(
    "meta_snapshot_diff",
    sql=_DUCK_INODES + f"""
    , states AS (
        SELECT inode_id, parent, name,
               inode_id * 2 AS add_tx,
               CASE WHEN inode_id % 3 = 0 THEN inode_id * 2 + 500 END AS del_tx
        FROM inodes
    ), flags AS (
        SELECT inode_id, parent, name,
               (add_tx <= {_SD_T1} AND COALESCE(del_tx > {_SD_T1}, TRUE))
                   AS live_t1,
               (add_tx <= {_SD_T2} AND COALESCE(del_tx > {_SD_T2}, TRUE))
                   AS live_t2
        FROM states
    )
    SELECT inode_id, parent AS dir, name,
           CASE WHEN live_t2 THEN 'CREATED' ELSE 'DELETED' END AS change
    FROM flags
    WHERE live_t1 <> live_t2
    ORDER BY inode_id
    """,
    doc="Snapshot diff between two as-of points of the metadata CDC "
        "log (the HDFS snapshotDiff report, computed relationally from "
        "MetadataLogEntry replay instead of snapshot data structures): "
        "a file appears iff its liveness differs between the cuts — "
        "CREATED if live only at t2, DELETED if live only at t1. "
        "Map-only over the log-derived state; any pair of cuts is one "
        "more pair of conditional flags, never another scan.",
    tags=("metadata", "cdc"),
)
def meta_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ino = inodes_from_documents(spark, sf_dir)
    add_tx = F.col("inode_id") * 2
    del_tx = F.when(F.col("inode_id") % 3 == 0, F.col("inode_id") * 2 + 500)
    live_t1 = (add_tx <= _SD_T1) & F.coalesce(del_tx > _SD_T1, F.lit(True))
    live_t2 = (add_tx <= _SD_T2) & F.coalesce(del_tx > _SD_T2, F.lit(True))
    return (ino.select("inode_id", F.col("parent").alias("dir"), "name",
                       live_t1.alias("live_t1"), live_t2.alias("live_t2"))
               .where(F.col("live_t1") != F.col("live_t2"))
               .select("inode_id", "dir", "name",
                       F.when(F.col("live_t2"), "CREATED")
                        .otherwise("DELETED").alias("change"))
               .orderBy("inode_id"))


@register(
    "distcp_atomic_plan",
    sql=_DUCK_INODES + """
    , listing AS (
        SELECT 'src/' || parent || '/' || name AS src, size FROM inodes
    ), ranked AS (
        SELECT src, size,
               row_number() OVER (ORDER BY size DESC, src) AS rnk
        FROM listing
    ), staged AS (
        SELECT CAST(rnk % 8 AS BIGINT) AS chunk, size,
               'dst.distcp.tmp' || substring(src, 4) AS dst,
               'dst' || substring(src, 4) AS final_dst
        FROM ranked
    )
    SELECT chunk, count(*) AS n_files, CAST(sum(size) AS BIGINT) AS chunk_bytes,
           min(dst) AS min_staged, max(final_dst) AS max_final
    FROM staged
    GROUP BY chunk
    ORDER BY chunk
    """,
    doc="DistCp -atomic staging plan (hadoop-tools/hadoop-distcp "
        "mapred/CopyCommitter.java:67 commitJob/promotePath): every "
        "dst re-rooted under the <dst>.distcp.tmp work dir with the "
        "final path riding along — the column rewrite whose single "
        "terminal rename gives all-or-nothing visibility. The oracle "
        "reproduces the staged AND final path for every file "
        "(min/max digest per chunk); the runtime protocol (promote on "
        "success, delete on failure, refuse pre-existing target) is "
        "pytest-proven in tests/test_distcp.py.",
    tags=("metadata", "maintenance"),
)
def distcp_atomic_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import distcp_atomic_plan, distcp_plan
    ino = inodes_from_documents(spark, sf_dir)
    listing = ino.select(
        F.concat(F.lit("src/"), F.col("parent"), F.lit("/"), F.col("name"))
         .alias("src"),
        F.col("size"))
    plan = distcp_plan(listing, "src/", "dst/", tasks=8)
    staged = distcp_atomic_plan(plan, "dst")
    return (staged.groupBy(F.col("chunk").cast("long").alias("chunk"))
                  .agg(F.count("*").alias("n_files"),
                       F.sum("size").alias("chunk_bytes"),
                       F.min("dst").alias("min_staged"),
                       F.max("final_dst").alias("max_final"))
                  .orderBy("chunk"))


_COMPACT_TARGET = 4000   # bytes per output group (fixture-scaled; the
                         # production knob is ~128 MB)


@register(
    "compaction_plan",
    sql=_DUCK_INODES + f"""
    , f AS (
        SELECT parent, name, CAST(size AS BIGINT) AS size,
               sum(size) OVER (PARTITION BY parent ORDER BY name
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - size AS cum_before
        FROM inodes
    ), g AS (
        SELECT parent, cum_before // {_COMPACT_TARGET} AS grp, size
        FROM f
    )
    SELECT parent, CAST(grp AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size) AS BIGINT) AS group_bytes
    FROM g GROUP BY parent, grp
    ORDER BY parent, grp
    """,
    doc="SMALL-FILE COMPACTION PLAN (the lakehouse OPTIMIZE/rewrite "
        "planner; the HAR/compact maintenance family's sizing half): "
        "per directory, files in deterministic name order are grouped "
        "by prefix-sum bucketing — group = floor(bytes_before / "
        "target) — so every output group lands within one file of the "
        "target size with ONE window per directory partition and zero "
        "driver loops (first-fit bin packing is sequential; "
        "prefix-sum bucketing is its relational, scale-safe stand-in "
        "and what io/writers.compact executes). Output: per (dir, "
        "group) file count and byte total.",
    tags=("metadata", "maintenance", "layout"),
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    ino = inodes_from_documents(spark, sf_dir)
    w = (Window.partitionBy("parent").orderBy("name")
               .rowsBetween(Window.unboundedPreceding, 0))
    f = ino.select("parent", "name", F.col("size").cast("long").alias("size")) \
           .withColumn("cum_before",
                       F.sum("size").over(w) - F.col("size"))
    g = f.withColumn("grp", F.expr(f"cum_before div {_COMPACT_TARGET}"))
    return (g.groupBy("parent", "grp")
             .agg(F.count("*").alias("n_files"),
                  F.sum("size").alias("group_bytes"))
             .select("parent", F.col("grp").cast("long").alias("grp"),
                     "n_files", "group_bytes")
             .orderBy("parent", "grp"))


@register(
    "distcp_preserve_plan",
    sql=_DUCK_INODES + """
    , src AS (
        SELECT inode_id, '/' || parent || '/' || name AS rel,
               CAST(CASE WHEN inode_id % 5 = 0 THEN 493 ELSE 420 END
                    AS INTEGER) AS mode,
               CAST(1000 + inode_id % 3 AS INTEGER) AS uid,
               CAST(100 AS INTEGER) AS gid,
               CAST(inode_id * 1000000000 AS BIGINT) AS mtime_ns
        FROM inodes
    ), tgt AS (
        -- deterministic prior-copy attribute state: every 7th file's
        -- mode drifted, every 11th chowned away, every 13th touched
        SELECT rel,
               CAST(CASE WHEN inode_id % 7 = 0 THEN 384 ELSE mode END
                    AS INTEGER) AS dst_mode,
               CAST(CASE WHEN inode_id % 11 = 0 THEN 0 ELSE uid END
                    AS INTEGER) AS dst_uid,
               gid AS dst_gid,
               CAST(CASE WHEN inode_id % 13 = 0
                         THEN mtime_ns + 1000000000 ELSE mtime_ns END
                    AS BIGINT) AS dst_mtime_ns
        FROM src
    ), j AS (
        SELECT s.rel, s.mode, s.uid, s.gid, s.mtime_ns,
               (s.mode <> t.dst_mode) AS fix_mode,
               (s.uid <> t.dst_uid OR s.gid <> t.dst_gid) AS fix_owner,
               (s.mtime_ns <> t.dst_mtime_ns) AS fix_times
        FROM src s JOIN tgt t ON s.rel = t.rel
    )
    SELECT rel, mode, uid, gid, mtime_ns, fix_mode, fix_owner, fix_times
    FROM j WHERE fix_mode OR fix_owner OR fix_times
    ORDER BY rel
    """,
    doc="DistCp -update -p attribute-repair plan (CopyCommitter + "
        "DistCpUtils.preserve: preservation applies to up-to-date "
        "skipped files too) — drives the REAL maintenance."
        "attr_repair_plan join on stat-listing-shaped frames derived "
        "deterministically from the inode fixture (mode/owner/times "
        "drift on the 7/11/13 residue classes). One co-partitioned "
        "path equi-join, per-attribute drift booleans; execution twin "
        "(chmod/chown/utime, ns-exact, atomic-rename survival) is "
        "pytest-verified in tests/test_distcp.py.",
    tags=("metadata", "maintenance"),
)
def distcp_preserve_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import attr_repair_plan
    ino = inodes_from_documents(spark, sf_dir)
    rel = F.concat(F.lit("/"), F.col("parent"), F.lit("/"), F.col("name"))
    src = ino.select(
        F.col("inode_id"), rel.alias("rel"),
        F.when(F.col("inode_id") % 5 == 0, 0o755).otherwise(0o644)
         .cast("int").alias("mode"),
        (F.lit(1000) + F.col("inode_id") % 3).cast("int").alias("uid"),
        F.lit(100).cast("int").alias("gid"),
        (F.col("inode_id") * 1_000_000_000).cast("bigint").alias("mtime_ns"))
    src_stats = src.select(
        F.concat(F.lit("src"), "rel").alias("src"), "mode", "uid", "gid",
        "mtime_ns", F.col("mtime_ns").alias("atime_ns"))
    dst_stats = src.select(
        F.concat(F.lit("dst"), "rel").alias("src"),
        F.when(F.col("inode_id") % 7 == 0, 0o600).otherwise(F.col("mode"))
         .cast("int").alias("mode"),
        F.when(F.col("inode_id") % 11 == 0, 0).otherwise(F.col("uid"))
         .cast("int").alias("uid"),
        "gid",
        F.when(F.col("inode_id") % 13 == 0,
               F.col("mtime_ns") + 1_000_000_000)
         .otherwise(F.col("mtime_ns")).cast("bigint").alias("mtime_ns"),
        F.col("mtime_ns").alias("atime_ns"))
    plan = attr_repair_plan(src_stats, dst_stats, "src", "dst",
                            flags="pugt")
    return (plan.select("rel", "mode", "uid", "gid", "mtime_ns",
                        "fix_mode", "fix_owner", "fix_times")
                .orderBy("rel"))


@register(
    "xor_parity_audit",
    sql="""
    WITH blocks AS (
        SELECT doc_id, doc_id // 4 AS stripe, md5(text) AS hx
        FROM documents
    ), sl AS (
        SELECT stripe, doc_id,
               ('0x' || substring(hx,  1, 8))::BIGINT AS b0,
               ('0x' || substring(hx,  9, 8))::BIGINT AS b1,
               ('0x' || substring(hx, 17, 8))::BIGINT AS b2,
               ('0x' || substring(hx, 25, 8))::BIGINT AS b3
        FROM blocks
    ), par AS (
        SELECT stripe,
               CAST(bit_xor(b0) AS BIGINT) AS p0,
               CAST(bit_xor(b1) AS BIGINT) AS p1,
               CAST(bit_xor(b2) AS BIGINT) AS p2,
               CAST(bit_xor(b3) AS BIGINT) AS p3,
               min(doc_id) AS victim,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM sl GROUP BY stripe
    ), oth AS (
        SELECT s.stripe,
               coalesce(bit_xor(s.b0) FILTER (s.doc_id <> p.victim), 0) AS o0,
               coalesce(bit_xor(s.b1) FILTER (s.doc_id <> p.victim), 0) AS o1,
               coalesce(bit_xor(s.b2) FILTER (s.doc_id <> p.victim), 0) AS o2,
               coalesce(bit_xor(s.b3) FILTER (s.doc_id <> p.victim), 0) AS o3
        FROM sl s JOIN par p USING (stripe) GROUP BY s.stripe
    ), vic AS (
        SELECT s.stripe, s.b0 AS v0, s.b1 AS v1, s.b2 AS v2, s.b3 AS v3
        FROM sl s JOIN par p ON s.stripe = p.stripe AND s.doc_id = p.victim
    )
    SELECT p.stripe, p.n_blocks, p.p0, p.p1, p.p2, p.p3,
           (xor(p.p0, o.o0) = v.v0 AND xor(p.p1, o.o1) = v.v1
            AND xor(p.p2, o.o2) = v.v2 AND xor(p.p3, o.o3) = v.v3)
             AS recovery_ok
    FROM par p JOIN oth o ON o.stripe = p.stripe
    JOIN vic v ON v.stripe = p.stripe
    ORDER BY p.stripe
    """,
    doc="Erasure-coding XOR parity audit — the first ORACLE row for the "
        "§2.10 coding family (previously byte-equal pytest only): "
        "16-byte blocks (md5 digests of each doc) striped 4-wide, "
        "parity computed by the REAL maintenance.xor_parity "
        "applyInPandas kernel (numpy bitwise_xor fold over the binary "
        "blocks), then sliced into four 32-bit words for the hash "
        "contract. The recovery law rides as a computed boolean: "
        "erase each stripe's min-doc block and check "
        "parity XOR (XOR of survivors) == erased block — the actual "
        "single-erasure repair identity, evaluated from the KERNEL's "
        "parity bytes on the Spark side and re-derived by bit_xor "
        "algebra in DuckDB. Scale: parity is a per-stripe commutative "
        "fold (map-side combinable in principle; the kernel form "
        "matches the reference's block-level encoder shape).",
    tags=("maintenance", "coding"),
)
def xor_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import xor_parity
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    blocks = d.select(
        F.col("doc_id"), F.expr("doc_id div 4").alias("stripe"),
        F.unhex(F.md5("text")).alias("data"),
        F.md5("text").alias("hx"))
    par = xor_parity(blocks.select("stripe", "data"), "stripe",
                     "data", batched=True)
    phex = F.lower(F.hex("parity"))
    pint = par.select(
        "stripe",
        *[F.conv(F.substring(phex, 1 + 8 * i, 8), 16, 10).cast("long")
           .alias(f"p{i}") for i in range(4)])
    sl = blocks.select(
        "stripe", "doc_id",
        *[F.conv(F.substring("hx", 1 + 8 * i, 8), 16, 10).cast("long")
           .alias(f"b{i}") for i in range(4)])
    agg = sl.groupBy("stripe").agg(
        F.min("doc_id").alias("victim"),
        F.count("*").cast("long").alias("n_blocks"))
    oth = (sl.join(F.broadcast(agg), "stripe")
             .groupBy("stripe")
             .agg(*[F.coalesce(
                 F.expr(f"bit_xor(CASE WHEN doc_id <> victim "
                        f"THEN b{i} END)"), F.lit(0)).alias(f"o{i}")
                 for i in range(4)]))
    vic = (sl.join(F.broadcast(agg), "stripe")
             .filter(F.col("doc_id") == F.col("victim"))
             .select("stripe", *[F.col(f"b{i}").alias(f"v{i}")
                                 for i in range(4)]))
    ok = None
    for i in range(4):
        c = (F.expr(f"p{i} ^ o{i}") == F.col(f"v{i}"))
        ok = c if ok is None else (ok & c)
    return (pint.join(agg.select("stripe", "n_blocks"), "stripe")
                .join(oth, "stripe").join(vic, "stripe")
                .select("stripe", "n_blocks", "p0", "p1", "p2", "p3",
                        ok.alias("recovery_ok"))
                .orderBy("stripe"))


def _rs_oracle_sql() -> str:
    """Relational GF(2^8) replay for rs_parity_audit: the log/antilog
    tables (generator 0x11d) are inlined as 256-entry list literals;
    gf_mul(b, g^c) = exp[(log[b] + c) % 255] with the zero guard.
    Block position i is the rank within the stripe (the kernel
    enumerates sorted blocks), parity_j byte = XOR over i of
    gf_mul(byte_i, g^(i*(j+1)))."""
    from hops_spark.maintenance import _gf_tables
    exp, log = _gf_tables()
    exp_l = "[" + ", ".join(map(str, exp[:256])) + "]"
    log_l = "[" + ", ".join(map(str, log)) + "]"
    return f"""
    WITH gf AS (
        SELECT {exp_l} AS e, {log_l} AS lg
    ), blocks AS (
        SELECT doc_id, doc_id // 4 AS stripe, md5(text) AS hx,
               CAST(row_number() OVER (PARTITION BY doc_id // 4
                                       ORDER BY doc_id) - 1 AS BIGINT) AS i
        FROM documents
    ), by AS (
        SELECT stripe, i, p.pos,
               ('0x' || substring(hx, 2 * p.pos + 1, 2))::BIGINT AS b
        FROM blocks, LATERAL (SELECT unnest([0, 1, 2, 3]) AS pos) p
    ), mul AS (
        SELECT stripe, pos, j.j,
               CASE WHEN b = 0 THEN 0
                    ELSE e[((lg[b + 1] + i * (j.j + 1)) % 255) + 1]
               END AS m
        FROM by CROSS JOIN gf, LATERAL (SELECT unnest([0, 1]) AS j) j
    ), par AS (
        SELECT stripe, j, pos, CAST(bit_xor(m) AS BIGINT) AS pb
        FROM mul GROUP BY stripe, j, pos
    ), wide AS (
        SELECT stripe, j,
               max(CASE WHEN pos = 0 THEN pb END) AS q0,
               max(CASE WHEN pos = 1 THEN pb END) AS q1,
               max(CASE WHEN pos = 2 THEN pb END) AS q2,
               max(CASE WHEN pos = 3 THEN pb END) AS q3
        FROM par GROUP BY stripe, j
    ), nb AS (
        SELECT stripe, CAST(count(*) AS BIGINT) AS n_blocks
        FROM blocks GROUP BY stripe
    )
    SELECT w.stripe, CAST(w.j AS INTEGER) AS parity_idx, n.n_blocks,
           w.q0, w.q1, w.q2, w.q3
    FROM wide w JOIN nb n ON n.stripe = w.stripe
    ORDER BY w.stripe, parity_idx
    """


@register(
    "rs_parity_audit",
    sql=_rs_oracle_sql(),
    doc="Reed-Solomon parity audit — the GF(2^8) Vandermonde encoder "
        "(maintenance.rs_encode, the hops erasure-coding role) hash-"
        "proven against an INDEPENDENT relational replay: Spark runs "
        "the real applyInPandas kernel (numpy byte arrays, log/antilog "
        "multiply) on 4-byte md5-derived blocks striped 4-wide with 2 "
        "parities, then exposes each parity's bytes as integer "
        "columns; DuckDB recomputes every byte from inlined 256-entry "
        "log/exp table literals — gf_mul as pure list indexing, XOR "
        "fold as bit_xor. Any deviation in table construction, "
        "coefficient order (g^(i*(j+1)), i = rank within stripe), or "
        "the multiply itself hash-mismatches. Completes the coding "
        "family's oracle coverage next to xor_parity_audit; "
        "reconstruction (the 2x2 GF solve) stays byte-equal pytest.",
    tags=("maintenance", "coding"),
)
def rs_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import rs_encode
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hx = F.md5("text")
    blocks = d.select(
        F.expr("doc_id div 4").alias("stripe"),
        F.col("doc_id").alias("block_idx"),
        F.unhex(F.substring(hx, 1, 8)).alias("data"))
    par = rs_encode(blocks, n_parity=2, batched=True)
    phex = F.lower(F.hex("parity"))
    nb = blocks.groupBy("stripe").agg(
        F.count("*").cast("long").alias("n_blocks"))
    return (par.select(
                "stripe", F.col("parity_idx"),
                *[F.conv(F.substring(phex, 2 * i + 1, 2), 16, 10)
                   .cast("long").alias(f"q{i}") for i in range(4)])
               .join(F.broadcast(nb), "stripe")
               .select("stripe", "parity_idx", "n_blocks",
                       "q0", "q1", "q2", "q3")
               .orderBy("stripe", "parity_idx"))


def _rs_repair_oracle_sql() -> str:
    """Relational replay of single-erasure RS repair: parity_0 and the
    survivor sum are both GF(2^8) folds over the same tables; with the
    erased block at index 0 (always present; g^0 = 1 so no inverse
    multiply), recovered = parity_0 XOR sum_{i>0} gf_mul(d_i, g^i)."""
    from hops_spark.maintenance import _gf_tables
    exp, log = _gf_tables()
    exp_l = "[" + ", ".join(map(str, exp[:256])) + "]"
    log_l = "[" + ", ".join(map(str, log)) + "]"
    return f"""
    WITH gf AS (
        SELECT {exp_l} AS e, {log_l} AS lg
    ), blocks AS (
        SELECT doc_id // 4 AS stripe, doc_id % 4 AS i, md5(text) AS hx
        FROM documents
    ), by AS (
        SELECT stripe, i, p.pos,
               ('0x' || substring(hx, 2 * p.pos + 1, 2))::BIGINT AS b
        FROM blocks, LATERAL (SELECT unnest([0, 1, 2, 3]) AS pos) p
    ), mul AS (
        SELECT stripe, pos, i,
               CASE WHEN b = 0 THEN 0
                    ELSE e[((lg[b + 1] + i) % 255) + 1]
               END AS m, b
        FROM by CROSS JOIN gf
    ), par0 AS (
        SELECT stripe, pos, CAST(bit_xor(m) AS BIGINT) AS p
        FROM mul GROUP BY stripe, pos
    ), surv AS (
        SELECT stripe, pos, CAST(bit_xor(m) AS BIGINT) AS s
        FROM mul WHERE i <> 0 GROUP BY stripe, pos
    ), orig AS (
        SELECT stripe, pos, b AS o FROM mul WHERE i = 0
    ), rec AS (
        SELECT p0.stripe, p0.pos,
               xor(p0.p, coalesce(sv.s, 0)) AS r, o.o
        FROM par0 p0
        LEFT JOIN surv sv ON sv.stripe = p0.stripe AND sv.pos = p0.pos
        JOIN orig o ON o.stripe = p0.stripe AND o.pos = p0.pos
    )
    SELECT stripe,
           max(CASE WHEN pos = 0 THEN r END) AS r0,
           max(CASE WHEN pos = 1 THEN r END) AS r1,
           max(CASE WHEN pos = 2 THEN r END) AS r2,
           max(CASE WHEN pos = 3 THEN r END) AS r3,
           bool_and(r = o) AS repaired_ok
    FROM rec GROUP BY stripe
    ORDER BY stripe
    """


@register(
    "rs_repair_audit",
    sql=_rs_repair_oracle_sql(),
    doc="Reed-Solomon single-erasure REPAIR audit, closing the coding "
        "family's oracle coverage (encode = rs_parity_audit): erase "
        "each stripe's block 0, reconstruct it with the REAL "
        "maintenance.rs_reconstruct kernel (survivors + parity_0, "
        "times g^{-0}=1) from parities the batched encoder produced, "
        "and ride repaired_ok = (recovered bytes == the erased "
        "original) as a computed boolean — on the Spark side that "
        "compares KERNEL output to source data, so any encode/repair "
        "asymmetry flips it; DuckDB re-derives recovery from the same "
        "GF algebra it uses for parity. Block index 0 is chosen "
        "because it exists in every (possibly ragged) stripe and "
        "needs no inverse multiply.",
    tags=("maintenance", "coding"),
)
def rs_repair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import rs_encode, rs_reconstruct
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hx = F.md5("text")
    blocks = d.select(
        F.expr("doc_id div 4").alias("stripe"),
        F.pmod("doc_id", F.lit(4)).cast("int").alias("block_idx"),
        F.unhex(F.substring(hx, 1, 8)).alias("data"))
    par = rs_encode(blocks, n_parity=2, batched=True)
    rec = rs_reconstruct(blocks, par, lost_idx=0)
    rhex = F.lower(F.hex("data"))
    rint = rec.select(
        "stripe",
        *[F.conv(F.substring(rhex, 2 * i + 1, 2), 16, 10).cast("long")
           .alias(f"r{i}") for i in range(4)])
    ohex = F.lower(F.hex("data"))
    orig = (blocks.filter(F.col("block_idx") == 0)
                  .select("stripe",
                          *[F.conv(F.substring(ohex, 2 * i + 1, 2), 16, 10)
                             .cast("long").alias(f"o{i}")
                            for i in range(4)]))
    ok = None
    for i in range(4):
        c = (F.col(f"r{i}") == F.col(f"o{i}"))
        ok = c if ok is None else (ok & c)
    return (rint.join(orig, "stripe")
                .select("stripe", "r0", "r1", "r2", "r3",
                        ok.alias("repaired_ok"))
                .orderBy("stripe"))


@register(
    "src_local_repair_audit",
    sql="""
    WITH blocks AS (
        SELECT doc_id // 8 AS stripe, doc_id % 8 AS i,
               (doc_id % 8) // 4 AS lg, md5(text) AS hx
        FROM documents
    ), by AS (
        SELECT stripe, i, lg, p.pos,
               ('0x' || substring(hx, 2 * p.pos + 1, 2))::BIGINT AS b
        FROM blocks, LATERAL (SELECT unnest([0, 1, 2, 3]) AS pos) p
    ), lp AS (
        SELECT stripe, lg AS local_group, pos,
               CAST(bit_xor(b) AS BIGINT) AS p
        FROM by GROUP BY stripe, lg, pos
    ), surv AS (
        -- lost block = idx 1 (local group 0): group survivors only
        SELECT stripe, pos, CAST(bit_xor(b) AS BIGINT) AS s
        FROM by WHERE lg = 0 AND i <> 1 GROUP BY stripe, pos
    ), orig AS (
        SELECT stripe, pos, b AS o FROM by WHERE i = 1
    ), rec AS (
        SELECT l.stripe, l.pos, xor(l.p, s.s) AS r, o.o
        FROM lp l
        JOIN surv s ON s.stripe = l.stripe AND s.pos = l.pos
        JOIN orig o ON o.stripe = l.stripe AND o.pos = l.pos
        WHERE l.local_group = 0
    ), ok AS (
        SELECT stripe, bool_and(r = o) AS repaired_ok FROM rec
        GROUP BY stripe
    )
    SELECT l.stripe, CAST(l.local_group AS BIGINT) AS local_group,
           max(CASE WHEN pos = 0 THEN p END) AS lp0,
           max(CASE WHEN pos = 1 THEN p END) AS lp1,
           max(CASE WHEN pos = 2 THEN p END) AS lp2,
           max(CASE WHEN pos = 3 THEN p END) AS lp3,
           coalesce(bool_and(ok.repaired_ok), FALSE) AS repaired_ok
    FROM lp l LEFT JOIN ok ON ok.stripe = l.stripe
    GROUP BY l.stripe, l.local_group
    ORDER BY l.stripe, local_group
    """,
    doc="Locally-repairable (SimpleRegeneratingCode-shaped) code audit "
        "— the LOCAL half of maintenance.src_encode hash-certified: "
        "stripes of 8 blocks in local groups of 4, each group's XOR "
        "parity computed by the real kernel and sliced into 32-bit "
        "words; the LOCALITY repair rides as a computed boolean — "
        "block 1 is erased and rebuilt by src_repair_local, which by "
        "contract reads ONLY its 4-block local group plus that "
        "group's parity (never the stripe), and the recovered bytes "
        "must equal the erased original. Stripes whose ragged tail "
        "lacks block 1 report repaired_ok = FALSE on both engines "
        "(nothing to repair). The RS global parities this code falls "
        "back to for multi-loss are certified by rs_parity_audit/"
        "rs_repair_audit.",
    tags=("maintenance", "coding"),
)
def src_local_repair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.maintenance import src_encode, src_repair_local
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hx = F.md5("text")
    blocks = d.select(
        F.expr("doc_id div 8").alias("stripe"),
        F.pmod("doc_id", F.lit(8)).cast("int").alias("block_idx"),
        F.unhex(F.substring(hx, 1, 8)).alias("data"))
    local, _global = src_encode(blocks, group_size=4,
                                n_global_parity=1, batched=True)
    lhex = F.lower(F.hex("parity"))
    lp = local.select(
        "stripe", F.col("local_group").cast("long").alias("local_group"),
        *[F.conv(F.substring(lhex, 2 * i + 1, 2), 16, 10).cast("long")
           .alias(f"lp{i}") for i in range(4)])
    rec = src_repair_local(blocks, local, lost_idx=1, group_size=4,
                           batched=True)
    rhex = F.lower(F.hex("data"))
    rint = rec.select(
        "stripe", *[F.conv(F.substring(rhex, 2 * i + 1, 2), 16, 10)
                     .cast("long").alias(f"r{i}") for i in range(4)])
    ohex = F.lower(F.hex("data"))
    orig = (blocks.filter(F.col("block_idx") == 1)
                  .select("stripe",
                          *[F.conv(F.substring(ohex, 2 * i + 1, 2), 16, 10)
                             .cast("long").alias(f"o{i}")
                            for i in range(4)]))
    okc = None
    for i in range(4):
        c = (F.col(f"r{i}") == F.col(f"o{i}"))
        okc = c if okc is None else (okc & c)
    ok = (rint.join(orig, "stripe")
              .select("stripe", okc.alias("repaired_ok")))
    return (lp.join(ok, "stripe", "left")
              .select("stripe", "local_group", "lp0", "lp1", "lp2", "lp3",
                      F.coalesce("repaired_ok", F.lit(False))
                       .alias("repaired_ok"))
              .orderBy("stripe", "local_group"))

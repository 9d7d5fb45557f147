"""Storage-layout and table-maintenance inventory queries: MERGE
upsert, Z-order clustering, deterministic shard shuffle, PageRank.

The reference's users run these as chained MapReduce jobs (SURVEY §2.9
JobControl): a keyed merge is a CompositeInputFormat outer join
(reference MR/mapreduce/lib/join/OuterJoinRecordReader.java:34), layout
rewrites are a TotalOrderPartitioner sort (Sort.java:129), and PageRank
is the canonical iterated job-chain. Here each is one Catalyst plan (or
a fixed-depth loop of them) with integer-exact arithmetic so the DuckDB
oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hops_spark.io.readers import load_table
from hops_spark.ops.graph import pagerank_int
from hops_spark.ops.lm import ngram_rows
from hops_spark.queries.textops import _DUCK_WORDS
from hops_spark.registry import register


# --- MERGE upsert (SCD1) -----------------------------------------------------

@register(
    "merge_upsert",
    sql="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), updates AS (
        SELECT o_orderkey, 'X' AS o_orderstatus,
               round(o_totalprice + 10.0, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
    ), inserts AS (
        SELECT -o_orderkey - 1 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0
    ), changes AS (
        SELECT * FROM updates UNION ALL SELECT * FROM inserts
    )
    SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert' ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN changes c USING (o_orderkey)
    WHERE c.o_orderkey IS NOT NULL
    ORDER BY o_orderkey
    """,
    doc="MERGE INTO (SCD1 upsert): apply a deterministic changes batch "
        "(updates: key%7, status X, price+10; inserts: key -> -key-1 for "
        "key%97, collision-free with any non-negative base key) "
        "to the orders table via full-outer join + coalesce; emit the "
        "affected slice with its action. One co-partitioned SMJ "
        "(changes would broadcast when small; generically both sides "
        "hash on the key).",
    tags=("maintenance", "join", "upsert"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics on DataFrames: WHEN MATCHED -> take change row,
    WHEN NOT MATCHED -> insert. The merged table is base ⟗ changes with
    per-column coalesce; the registered output keeps only the affected
    slice (the full merged table is the same plan minus the final
    filter). At 100 TB the join key is the table's primary key, so the
    exchange is the irreducible cost; a real deployment bucket-writes
    base on the key so only the changes side shuffles."""
    o = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (o.where(F.col("o_orderkey") % 7 == 0)
                .select("o_orderkey",
                        F.lit("X").alias("o_orderstatus"),
                        F.round(F.col("o_totalprice") + 10.0, 2)
                         .alias("o_totalprice")))
    inserts = (o.where(F.col("o_orderkey") % 97 == 0)
                .select((-F.col("o_orderkey") - 1).alias("o_orderkey"),
                        F.lit("N").alias("o_orderstatus"), "o_totalprice"))
    c = updates.unionByName(inserts)
    b = o
    merged = (b.join(c.withColumnsRenamed(
                         {"o_orderstatus": "c_status", "o_totalprice": "c_price"}),
                     "o_orderkey", "full_outer", )
               .select("o_orderkey",
                       F.coalesce("c_status", "o_orderstatus").alias("o_orderstatus"),
                       F.coalesce("c_price", "o_totalprice").alias("o_totalprice"),
                       F.when(F.col("o_orderstatus").isNull(), "insert")
                        .otherwise("update").alias("action"),
                       F.col("c_status").isNotNull().alias("_affected")))
    return merged.where("_affected").drop("_affected").orderBy("o_orderkey")


# --- Z-order layout ----------------------------------------------------------

_ZBITS = 12


def _morton_sql() -> str:
    """Shared Spark-SQL/DuckDB Morton-interleave expression over
    pre-scaled 12-bit cells xi, yi (pure bit ops — identical text runs
    on both engines)."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"(((xi >> {i}) & 1) << {2 * i})")
        terms.append(f"(((yi >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZCELL = ("CAST((x - xmin) * 4096 AS BIGINT) {IDIV} (xmax - xmin + 1)",
          "CAST((y - ymin) * 4096 AS BIGINT) {IDIV} (ymax - ymin + 1)")


@register(
    "zorder_layout",
    sql=f"""
    WITH pts AS (
        SELECT l_partkey AS x, l_suppkey AS y FROM lineitem
    ), b AS (
        SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
        FROM pts
    ), cells AS (
        SELECT x, y,
               {_ZCELL[0].replace("{IDIV}", "//")} AS xi,
               {_ZCELL[1].replace("{IDIV}", "//")} AS yi
        FROM pts, b
    ), coded AS (
        SELECT x, y, ({_morton_sql()}) >> 16 AS file_id FROM cells
    )
    SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_partkey, max(x) AS max_partkey,
           min(y) AS min_suppkey, max(y) AS max_suppkey
    FROM coded GROUP BY file_id ORDER BY file_id
    """,
    doc="Z-order (Morton) clustering of lineitem on (l_partkey, "
        "l_suppkey): scale both dims to 12-bit cells, interleave bits, "
        "take the top 8 bits of the z-value as the target file — "
        "map-only assignment (no range-partitioner sampling, so it is "
        "deterministic AND shuffle-free); per-file min/max stats show "
        "the locality that powers data skipping.",
    tags=("maintenance", "layout", "scale"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta/Iceberg OPTIMIZE ZORDER, Spark-first: the z-prefix file
    assignment replaces the usual repartitionByRange(morton) because
    range boundaries come from sampling (non-deterministic) while a
    fixed-width prefix is a pure map — at 100 TB you'd follow this with
    a write partitioned by file_id, and every file covers one z-range
    rectangle so min/max pruning on EITHER dim skips ~sqrt-fraction of
    files. Cost: one 1-row bounds aggregate broadcast into a map-only
    coding pass + the final small per-file aggregate."""
    li = load_table(spark, sf_dir, "lineitem") \
        .select(F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
    b = li.agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"),
               F.min("y").alias("ymin"), F.max("y").alias("ymax"))
    cells = (li.join(F.broadcast(b))
               .withColumn("xi", F.expr(_ZCELL[0].replace("{IDIV}", "div")))
               .withColumn("yi", F.expr(_ZCELL[1].replace("{IDIV}", "div"))))
    coded = cells.withColumn(
        "file_id", F.expr(f"({_morton_sql()}) >> 16"))
    return (coded.groupBy("file_id")
                 .agg(F.count("*").alias("n_rows"),
                      F.min("x").alias("min_partkey"), F.max("x").alias("max_partkey"),
                      F.min("y").alias("min_suppkey"), F.max("y").alias("max_suppkey"))
                 .orderBy("file_id"))


# --- deterministic shard shuffle --------------------------------------------

_N_SHARDS = 8


@register(
    "shard_shuffle",
    sql=f"""
    WITH h AS (
        SELECT doc_id, md5('doc_' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ), s AS (
        SELECT doc_id,
               ('0x' || substring(hx, 1, 7))::BIGINT % {_N_SHARDS} AS shard, hx
        FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
                AS BIGINT) AS pos
    FROM s
    ORDER BY shard, pos
    """,
    doc="Deterministic global training shuffle: shard = md5-bucket of "
        "the doc key, position = rank of the md5 within the shard — a "
        "seeded permutation with no RNG state, reproducible on any "
        "engine/cluster/partitioning. One exchange on shard; the "
        "within-shard sort is per-partition.",
    tags=("pipeline", "sampling", "scale"),
)
def shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The examples-shuffle every training run needs, without RNG:
    hashing gives the uniform shard assignment AND the within-shard
    order (md5 is effectively a random permutation of the key space but
    is pure), so re-running on different cluster shapes yields the
    byte-identical shard layout — the property `df.sample`/rand() lose.
    Each shard is one window partition: at 100 TB use n_shards ≈
    corpus/target-shard-size and the per-shard sort stays in-memory."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    hx = F.md5(F.concat(F.lit("doc_"), F.col("doc_id").cast("string")))
    s = (d.withColumn("hx", hx)
          .withColumn("shard", F.pmod(
              F.conv(F.substring("hx", 1, 7), 16, 10).cast("long"),
              F.lit(_N_SHARDS))))
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (s.select("doc_id", "shard",
                     F.row_number().over(w).cast("long").alias("pos"))
             .orderBy("shard", "pos"))


# --- PageRank over the word-adjacency graph ---------------------------------

_PR_ITERS = 3
_PR_SQL_ITER = """
, i{k} AS (
    SELECT e.dst AS node, CAST(sum(r.r // o.deg) AS BIGINT) AS inflow
    FROM edges e JOIN outdeg o ON e.src = o.src
                 JOIN r{p} r ON r.node = e.src
    GROUP BY e.dst
), r{k} AS (
    SELECT n.node,
           CAST(150000 + (850000 * coalesce(i.inflow, 0)) // 1000000
                AS BIGINT) AS r
    FROM nodes n LEFT JOIN i{k} i USING (node)
)"""


@register(
    "pagerank_words",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), bg AS (
        SELECT w[i.i] AS w1, w[i.i + 1] AS w2
        FROM wt, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2
    ), edges AS (
        SELECT DISTINCT w1 AS src, w2 AS dst FROM bg WHERE w1 <> w2
    ), nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), outdeg AS (
        SELECT src, count(*) AS deg FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
    ){"".join(_PR_SQL_ITER.format(k=k, p=k - 1) for k in range(1, _PR_ITERS + 1))}
    SELECT node AS word, r AS rank_ppm FROM r{_PR_ITERS}
    ORDER BY rank_ppm DESC, word LIMIT 50
    """,
    doc="PageRank (3 integer-exact iterations, ppm fixed point) on the "
        "word-adjacency graph: the canonical iterated MapReduce job "
        "chain as a fixed-depth DataFrame loop — per round one "
        "co-partitioned join + one dst-aggregate, rank state O(nodes), "
        "localCheckpoint per round. Top-50 words by rank.",
    tags=("graph", "iterative", "text"),
)
def pagerank_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word graph = distinct adjacent-token pairs (the bigram stream the
    LM jobs already emit); rank arithmetic is bit-for-bit reproducible
    (see ops/graph.pagerank_int). The 3-iteration unroll is mirrored in
    the oracle as chained CTEs."""
    d = load_table(spark, sf_dir, "documents")
    edges = (ngram_rows(d, 2).where(F.col("w1") != F.col("w2"))
                           .select(F.col("w1").alias("src"),
                                   F.col("w2").alias("dst")))
    pr = pagerank_int(edges, iters=_PR_ITERS)
    return (pr.select(F.col("node").alias("word"), "rank_ppm")
              .orderBy(F.desc("rank_ppm"), "word").limit(50))


_ZX_DUCK = _ZCELL[0].replace("{IDIV}", "//")
_ZY_DUCK = _ZCELL[1].replace("{IDIV}", "//")


@register(
    "zorder_skipping",
    sql=f"""
    WITH pts AS (
        SELECT l_orderkey AS ok, l_partkey AS x, l_suppkey AS y FROM lineitem
    ), b AS (
        SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax,
               max(ok) AS okmax
        FROM pts
    ), coded AS (
        SELECT ok, x, y,
               {_ZX_DUCK} AS xi,
               {_ZY_DUCK} AS yi,
               (ok * 256) // (okmax + 1) AS naive_file,
               xmin + (xmax - xmin) // 4 AS x_lo,
               xmin + (xmax - xmin) // 2 AS x_hi,
               ymin + (ymax - ymin) // 4 AS y_lo,
               ymin + (ymax - ymin) // 2 AS y_hi
        FROM pts, b
    ), files AS (
        SELECT CASE lay WHEN 'zorder' THEN ({_morton_sql()}) >> 16
                        ELSE naive_file END AS file_id,
               lay, x, y, x_lo, x_hi, y_lo, y_hi
        FROM coded, (VALUES ('zorder'), ('naive')) AS l(lay)
    ), stats AS (
        SELECT lay, file_id,
               min(x) AS fx0, max(x) AS fx1, min(y) AS fy0, max(y) AS fy1,
               max(x_lo) AS x_lo, max(x_hi) AS x_hi,
               max(y_lo) AS y_lo, max(y_hi) AS y_hi
        FROM files GROUP BY lay, file_id
    )
    SELECT lay AS layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN fx1 >= x_lo AND fx0 <= x_hi
                          AND fy1 >= y_lo AND fy0 <= y_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
           CAST(sum(CASE WHEN fx1 >= x_lo AND fx0 <= x_hi
                          AND fy1 >= y_lo AND fy0 <= y_hi
                         THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS scan_ppm
    FROM stats GROUP BY lay ORDER BY layout
    """,
    doc="Data-skipping effectiveness of Z-order vs insert-order layout "
        "for the same box predicate (a quartile rectangle on partkey x "
        "suppkey): a file must be scanned iff its min/max stats overlap "
        "the box. Z-order files cover z-range rectangles, so the scan "
        "fraction collapses; the naive layout's files span the full "
        "secondary dimension and nearly all must be read. All integer "
        "arithmetic; the oracle recomputes both layouts' file stats.",
    tags=("maintenance", "layout", "scale", "profiling"),
)
def zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
    b = li.agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"),
               F.min("y").alias("ymin"), F.max("y").alias("ymax"),
               F.max("ok").alias("okmax"))
    coded = (li.join(F.broadcast(b))
               .withColumn("xi", F.expr(_ZCELL[0].replace("{IDIV}", "div")))
               .withColumn("yi", F.expr(_ZCELL[1].replace("{IDIV}", "div")))
               .withColumn("naive_file", F.expr("(ok * 256) div (okmax + 1)"))
               .withColumn("x_lo", F.expr("xmin + (xmax - xmin) div 4"))
               .withColumn("x_hi", F.expr("xmin + (xmax - xmin) div 2"))
               .withColumn("y_lo", F.expr("ymin + (ymax - ymin) div 4"))
               .withColumn("y_hi", F.expr("ymin + (ymax - ymin) div 2")))
    z = coded.withColumn("file_id",
                         F.expr(f"({_morton_sql()}) >> 16")) \
             .withColumn("lay", F.lit("zorder"))
    nv = coded.withColumn("file_id", F.col("naive_file")) \
              .withColumn("lay", F.lit("naive"))
    files = z.unionByName(nv)
    stats = (files.groupBy("lay", "file_id")
                  .agg(F.min("x").alias("fx0"), F.max("x").alias("fx1"),
                       F.min("y").alias("fy0"), F.max("y").alias("fy1"),
                       F.max("x_lo").alias("x_lo"), F.max("x_hi").alias("x_hi"),
                       F.max("y_lo").alias("y_lo"), F.max("y_hi").alias("y_hi")))
    hit = ((F.col("fx1") >= F.col("x_lo")) & (F.col("fx0") <= F.col("x_hi"))
           & (F.col("fy1") >= F.col("y_lo")) & (F.col("fy0") <= F.col("y_hi")))
    return (stats.groupBy(F.col("lay").alias("layout"))
                 .agg(F.count("*").alias("n_files"),
                      F.sum(hit.cast("long")).alias("n_files_scanned"),
                      F.expr("sum(CASE WHEN fx1 >= x_lo AND fx0 <= x_hi "
                             "AND fy1 >= y_lo AND fy0 <= y_hi THEN 1 ELSE 0 "
                             "END) * 1000000 div count(*)").cast("long")
                       .alias("scan_ppm"))
                 .orderBy("layout"))


# --- Hilbert-curve layout (the locality upgrade over Morton) -----------------

_HN = 256          # 8-bit Hilbert grid per dimension (65536 cells)
_HCELL = ("CAST((x - xmin) * 256 AS BIGINT) {IDIV} (xmax - xmin + 1)",
          "CAST((y - ymin) * 256 AS BIGINT) {IDIV} (ymax - ymin + 1)")


def _hilbert_levels() -> list[tuple[str, str, str]]:
    """Per-level (acc_delta, new_x, new_y) SQL over running columns
    (xi, yi) — the classic iterative xy->d Hilbert walk, UNROLLED so the
    identical text runs on Spark SQL and DuckDB. The quadrant term
    (3*rx) XOR ry is rewritten arithmetically (3*rx + ry - 2*rx*ry:
    exact for rx, ry in {0,1}) because ^ means XOR in Spark but POWER
    in DuckDB. Validated as a true Hilbert curve (bijective + unit-step
    adjacent) against a reference implementation in
    tests/test_analytics_layout.py."""
    out = []
    s = _HN // 2
    while s > 0:
        rx = f"(CASE WHEN (xi & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (yi & {s}) > 0 THEN 1 ELSE 0 END)"
        delta = f"{s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
        nx = (f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
              f"THEN {s - 1} - yi ELSE yi END) ELSE xi END")
        ny = (f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
              f"THEN {s - 1} - xi ELSE xi END) ELSE yi END")
        out.append((delta, nx, ny))
        s //= 2
    return out


def _hilbert_ctes() -> str:
    parts = []
    prev = "cells"
    for k, (delta, nx, ny) in enumerate(_hilbert_levels()):
        parts.append(
            f", h{k} AS (SELECT x, y, acc + {delta} AS acc, "
            f"{nx} AS xi_n, {ny} AS yi_n FROM "
            f"(SELECT x, y, acc, xi, yi FROM {prev}))")
        parts.append(
            f", g{k} AS (SELECT x, y, acc, xi_n AS xi, yi_n AS yi FROM h{k})")
        prev = f"g{k}"
    return "".join(parts), prev


_H_CTES, _H_LAST = _hilbert_ctes()


@register(
    "hilbert_layout",
    sql=f"""
    WITH pts AS (
        SELECT l_partkey AS x, l_suppkey AS y FROM lineitem
    ), b AS (
        SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
        FROM pts
    ), cells AS (
        SELECT x, y, CAST(0 AS BIGINT) AS acc,
               {_HCELL[0].replace("{IDIV}", "//")} AS xi,
               {_HCELL[1].replace("{IDIV}", "//")} AS yi
        FROM pts, b
    ){_H_CTES}
    SELECT acc // 256 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_partkey, max(x) AS max_partkey,
           min(y) AS min_suppkey, max(y) AS max_suppkey
    FROM {_H_LAST} GROUP BY file_id ORDER BY file_id
    """,
    doc="Hilbert-curve clustering of lineitem on (l_partkey, l_suppkey) "
        "— the locality upgrade over zorder_layout (a Hilbert walk never "
        "jumps, so per-file bounding boxes are tighter and min/max "
        "skipping prunes more): 8-bit cells, the unrolled iterative "
        "xy->d walk as pure map-side integer expressions (no sampling, "
        "no shuffle before the final per-file stats aggregate), file = "
        "curve-position prefix. Same plan shape as zorder_layout; "
        "tests assert the Hilbert property and the locality win.",
    tags=("maintenance", "layout", "scale"),
)
def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select(F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
    b = li.agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"),
               F.min("y").alias("ymin"), F.max("y").alias("ymax"))
    df = _hilbert_walk(
        li.join(F.broadcast(b))
          .select("x", "y", F.lit(0).cast("long").alias("acc"),
                  F.expr(_HCELL[0].replace("{IDIV}", "div")).alias("xi"),
                  F.expr(_HCELL[1].replace("{IDIV}", "div")).alias("yi")))
    return (df.selectExpr("acc div 256 AS file_id", "x", "y")
              .groupBy("file_id")
              .agg(F.count("*").alias("n_rows"),
                   F.min("x").alias("min_partkey"),
                   F.max("x").alias("max_partkey"),
                   F.min("y").alias("min_suppkey"),
                   F.max("y").alias("max_suppkey"))
              .orderBy("file_id"))


def _hilbert_walk(df):
    """Apply the unrolled Hilbert levels to a frame carrying (x, y, acc,
    xi, yi); returns the frame with final acc (xi/yi consumed). Shared
    by hilbert_layout and hilbert_skipping."""
    for delta, nx, ny in _hilbert_levels():
        df = (df.select("x", "y",
                        F.expr(f"acc + {delta}").alias("_acc"),
                        F.expr(nx).alias("_xi"), F.expr(ny).alias("_yi"))
                .selectExpr("x", "y", "_acc AS acc", "_xi AS xi",
                            "_yi AS yi"))
    return df.select("x", "y", "acc")


@register(
    "hilbert_skipping",
    sql=f"""
    WITH pts AS (
        SELECT l_orderkey AS ok, l_partkey AS x, l_suppkey AS y FROM lineitem
    ), b AS (
        SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax,
               max(ok) AS okmax
        FROM pts
    ), cells AS (
        SELECT DISTINCT x, y, CAST(0 AS BIGINT) AS acc,
               {_HCELL[0].replace("{IDIV}", "//")} AS xi,
               {_HCELL[1].replace("{IDIV}", "//")} AS yi
        FROM pts, b
    ){_H_CTES}, hcode AS (
        SELECT x, y, acc // 256 AS h_file FROM {_H_LAST}
    ), coded AS (
        SELECT p.ok, p.x, p.y, h.h_file,
               {_ZX_DUCK} AS xi, {_ZY_DUCK} AS yi,
               (p.ok * 256) // (okmax + 1) AS naive_file,
               xmin + (xmax - xmin) // 4 AS x_lo,
               xmin + (xmax - xmin) // 2 AS x_hi,
               ymin + (ymax - ymin) // 4 AS y_lo,
               ymin + (ymax - ymin) // 2 AS y_hi
        FROM pts p JOIN hcode h USING (x, y), b
    ), files AS (
        SELECT CASE lay WHEN 'zorder' THEN ({_morton_sql()}) >> 16
                        WHEN 'hilbert' THEN h_file
                        ELSE naive_file END AS file_id,
               lay, x, y, x_lo, x_hi, y_lo, y_hi
        FROM coded, (VALUES ('zorder'), ('hilbert'), ('naive')) AS l(lay)
    ), stats AS (
        SELECT lay, file_id,
               min(x) AS fx0, max(x) AS fx1, min(y) AS fy0, max(y) AS fy1,
               max(x_lo) AS x_lo, max(x_hi) AS x_hi,
               max(y_lo) AS y_lo, max(y_hi) AS y_hi
        FROM files GROUP BY lay, file_id
    )
    SELECT lay AS layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN fx1 >= x_lo AND fx0 <= x_hi
                          AND fy1 >= y_lo AND fy0 <= y_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
           CAST(sum(CASE WHEN fx1 >= x_lo AND fx0 <= x_hi
                          AND fy1 >= y_lo AND fy0 <= y_hi
                         THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS scan_ppm
    FROM stats GROUP BY lay ORDER BY layout
    """,
    doc="Three-way data-skipping comparison on the SAME box predicate: "
        "insert-order vs Z-order vs Hilbert file layouts, each file "
        "scanned iff its min/max stats overlap the quartile box. "
        "Extends zorder_skipping with the Hilbert walk (computed once "
        "per DISTINCT cell, joined back — the walk cost is cell-bounded "
        "regardless of row count); the curve ordering "
        "hilbert <= zorder << naive in scan_ppm is the measured "
        "locality claim behind hilbert_layout.",
    tags=("maintenance", "layout", "scale", "profiling"),
)
def hilbert_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
    b = li.agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"),
               F.min("y").alias("ymin"), F.max("y").alias("ymax"),
               F.max("ok").alias("okmax"))
    cells = (li.select("x", "y").distinct()
               .join(F.broadcast(b))
               .select("x", "y", F.lit(0).cast("long").alias("acc"),
                       F.expr(_HCELL[0].replace("{IDIV}", "div")).alias("xi"),
                       F.expr(_HCELL[1].replace("{IDIV}", "div")).alias("yi")))
    hcode = (_hilbert_walk(cells)
             .selectExpr("x", "y", "acc div 256 AS h_file"))
    coded = (li.join(hcode, ["x", "y"])
               .join(F.broadcast(b))
               .withColumn("xi", F.expr(_ZCELL[0].replace("{IDIV}", "div")))
               .withColumn("yi", F.expr(_ZCELL[1].replace("{IDIV}", "div")))
               .withColumn("naive_file",
                           F.expr("ok * 256 div (okmax + 1)"))
               .withColumn("x_lo", F.expr("xmin + (xmax - xmin) div 4"))
               .withColumn("x_hi", F.expr("xmin + (xmax - xmin) div 2"))
               .withColumn("y_lo", F.expr("ymin + (ymax - ymin) div 4"))
               .withColumn("y_hi", F.expr("ymin + (ymax - ymin) div 2")))
    lays = F.explode(F.array(F.lit("zorder"), F.lit("hilbert"),
                             F.lit("naive"))).alias("lay")
    files = (coded.select("*", lays)
                  .withColumn("file_id",
                              F.when(F.col("lay") == "zorder",
                                     F.expr(f"({_morton_sql()}) >> 16"))
                               .when(F.col("lay") == "hilbert",
                                     F.col("h_file"))
                               .otherwise(F.col("naive_file"))))
    stats = (files.groupBy("lay", "file_id")
                  .agg(F.min("x").alias("fx0"), F.max("x").alias("fx1"),
                       F.min("y").alias("fy0"), F.max("y").alias("fy1"),
                       F.max("x_lo").alias("x_lo"), F.max("x_hi").alias("x_hi"),
                       F.max("y_lo").alias("y_lo"), F.max("y_hi").alias("y_hi")))
    hit = ((F.col("fx1") >= F.col("x_lo")) & (F.col("fx0") <= F.col("x_hi"))
           & (F.col("fy1") >= F.col("y_lo")) & (F.col("fy0") <= F.col("y_hi")))
    return (stats.groupBy(F.col("lay").alias("layout"))
                 .agg(F.count("*").alias("n_files"),
                      F.sum(hit.cast("long")).alias("n_files_scanned"),
                      F.expr("sum(CASE WHEN fx1 >= x_lo AND fx0 <= x_hi "
                             "AND fy1 >= y_lo AND fy0 <= y_hi THEN 1 ELSE 0 "
                             "END) * 1000000 div count(*)").alias("scan_ppm"))
                 .orderBy("layout"))


@register(
    "shard_manifest",
    sql=f"""
    WITH h AS (
        SELECT doc_id, n_chars,
               md5('doc_' || CAST(doc_id AS VARCHAR)) AS hx,
               ('0x' || substring(md5(text), 1, 13))::BIGINT AS content_h
        FROM documents
    ), s AS (
        SELECT doc_id, n_chars, content_h,
               ('0x' || substring(hx, 1, 7))::BIGINT % {_N_SHARDS} AS shard
        FROM h
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM s
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(bit_xor(content_h) AS BIGINT) AS content_fp,
           n_docs_total
    FROM s CROSS JOIN tot
    GROUP BY shard, n_docs_total
    ORDER BY shard
    """,
    doc="Training-shard MANIFEST — the data-versioning record every "
        "reproducible run ships beside its shards: per shard (same md5 "
        "bucket rule as shard_shuffle) the doc count, char volume, and "
        "an ORDER-INSENSITIVE content fingerprint (bit_xor of each "
        "doc's 52-bit md5(text) slice) that any engine recomputes to "
        "certify a shard byte-equal without comparing rows; the global "
        "doc count rides on every row so a dropped shard is visible "
        "from any surviving one. One keyed aggregate; the fingerprint "
        "is a commutative fold, so map-side combine applies and "
        "shard-level manifests of splits XOR-merge into the corpus "
        "manifest (the sketch-grid mergeability idea applied to "
        "lineage).",
    tags=("pipeline", "scale", "metadata"),
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars",
                                                      "text")
    hx = F.md5(F.concat(F.lit("doc_"), F.col("doc_id").cast("string")))
    ch = F.conv(F.substring(F.md5("text"), 1, 13), 16, 10).cast("long")
    s = d.select(
        F.pmod(F.conv(F.substring(hx, 1, 7), 16, 10).cast("long"),
               F.lit(_N_SHARDS)).alias("shard"),
        F.col("n_chars"), ch.alias("content_h"))
    tot = s.agg(F.count("*").cast("long").alias("n_docs_total"))
    return (s.groupBy("shard")
             .agg(F.count("*").cast("long").alias("n_docs"),
                  F.sum("n_chars").cast("long").alias("n_chars"),
                  F.expr("bit_xor(content_h)").cast("long")
                   .alias("content_fp"))
             .crossJoin(F.broadcast(tot))
             .select("shard", "n_docs", "n_chars", "content_fp",
                     "n_docs_total")
             .orderBy("shard"))


@register(
    "mixture_schedule",
    sql="""
    WITH src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE))) AS BIGINT)
                 AS w_scaled
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(sum(n_chars) AS BIGINT) AS c_total,
               CAST(sum(w_scaled) AS BIGINT) AS w_total
        FROM src
    )
    SELECT source, n_docs, n_chars,
           CAST(n_chars * 1000000 // c_total AS BIGINT) AS raw_share_ppm,
           CAST(w_scaled * 1000000 // w_total AS BIGINT)
             AS scaled_share_ppm,
           CAST((w_scaled * 1000000 // w_total) * 1000000
                // greatest(n_chars * 1000000 // c_total, 1) AS BIGINT)
             AS upsample_ppm
    FROM src CROSS JOIN tot
    ORDER BY source
    """,
    doc="Temperature-scaled data-mixing schedule (the T5/mT5 mixing "
        "rule, Raffel et al. 2020 / Xue et al. 2021: sample source i "
        "with p_i proportional to n_i^alpha, here alpha = 1/2 i.e. "
        "temperature tau = 2): per source the raw char share, the "
        "sqrt-scaled share, and the implied up/down-sampling factor "
        "(ppm). tau = 2 is chosen deliberately for the oracle contract "
        "— IEEE sqrt is correctly rounded, so floor(sqrt(n)) is "
        "bit-identical on every engine where a general pow(n, 1/tau) "
        "is not; all shares are tie-free floor-division ppm. One "
        "source-keyed aggregate + a 1-row broadcast: the schedule for "
        "a 100 TB corpus costs one pass regardless of source count. "
        "Feeds pps_sample / token-budget sampling as the per-source "
        "rate table.",
    tags=("pipeline", "sampling", "text"),
)
def mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    src = (d.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("n_chars"))
            .withColumn("w_scaled",
                        F.expr("CAST(floor(sqrt(CAST(n_chars AS DOUBLE)))"
                               " AS BIGINT)")))
    tot = src.agg(F.sum("n_chars").cast("long").alias("c_total"),
                  F.sum("w_scaled").cast("long").alias("w_total"))
    return (src.crossJoin(F.broadcast(tot))
               .select("source", "n_docs", "n_chars",
                       F.expr("CAST(n_chars * 1000000 div c_total "
                              "AS BIGINT)").alias("raw_share_ppm"),
                       F.expr("CAST(w_scaled * 1000000 div w_total "
                              "AS BIGINT)").alias("scaled_share_ppm"),
                       F.expr("CAST((w_scaled * 1000000 div w_total) "
                              "* 1000000 div greatest(n_chars * 1000000 "
                              "div c_total, 1) AS BIGINT)")
                        .alias("upsample_ppm"))
               .orderBy("source"))

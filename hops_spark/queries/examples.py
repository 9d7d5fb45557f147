"""Reference-examples parity queries: the quasi-Monte-Carlo π
estimator, market-basket pair mining, and triangle counting.

The reference ships these as teaching MapReduce jobs
(hadoop-mapreduce-examples/QuasiMonteCarlo.java:88 HaltonSequence;
the join/aggregation examples around it); here each is one Catalyst
plan whose arithmetic is arranged to be integer-exact so the DuckDB
oracle hash-matches bit-for-bit — including π, whose in-circle test is
usually float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.registry import register

# --- pi via quasi-Monte-Carlo ------------------------------------------------
#
# Halton-style low-discrepancy points, arranged to stay in exact
# integer arithmetic end-to-end (the reference sums double radical
# inverses; same estimator, exact arithmetic):
#   x_i = bitrev20(i) / 2^20          (base-2 radical inverse)
#   y_i = rev3_13(i) / 3^13           (base-3 radical inverse)
# In-circle test (x-1/2)^2 + (y-1/2)^2 <= 1/4, cleared of denominators
# with u = 2*bitrev20(i) - 2^20, v = 2*rev3_13(i) - 3^13:
#   u^2 * 3^26 + v^2 * 2^40 <= 2^40 * 3^26
# Magnitudes reach ~2.6e24, so the comparison runs in DECIMAL(38,0)
# (Spark) / HUGEINT (DuckDB) — both exact.

_PI_N = 200_000
_P3_13 = 3 ** 13          # 1594323 > _PI_N, so 13 base-3 digits suffice
_P2_20 = 1 << 20          # > _PI_N, so 20 bits suffice


def _bitrev20_sql() -> str:
    return " + ".join(f"(((i >> {j}) & 1) << {19 - j})" for j in range(20))


def _rev3_13_sql(idiv: str) -> str:
    return " + ".join(
        f"(((i {idiv} {3 ** j}) % 3) * {3 ** (12 - j)})" for j in range(13))


def _pi_sql(idiv: str, dec_cast: str) -> str:
    """Shared CTE body (caller prefixes ``WITH [idx,]``); only the
    integer-div spelling and the wide-decimal cast differ between
    Spark SQL and DuckDB."""
    return f"""
    pts AS (
        SELECT (2 * ({_bitrev20_sql()}) - {_P2_20}) AS u,
               (2 * ({_rev3_13_sql(idiv)}) - {_P3_13}) AS v
        FROM idx
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(CASE WHEN CAST(u AS {dec_cast}) * u * {3 ** 26}
                              + CAST(v AS {dec_cast}) * v * {2 ** 40}
                             <= CAST({2 ** 40} AS {dec_cast}) * {3 ** 26}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
        FROM pts
    )
    SELECT n_points, n_inside,
           (4000000 * n_inside) {idiv} n_points AS pi_micro
    FROM t
    """


@register(
    "pi_qmc",
    sql=f"""
    WITH idx AS (SELECT unnest(range({_PI_N})) AS i),
    {_pi_sql("//", "HUGEINT")}
    """,
    doc="Quasi-Monte-Carlo pi (QuasiMonteCarlo.java:88 HaltonSequence "
        "parity-in-estimator): base-2/base-3 radical-inverse points via "
        "integer bit/digit reversal, in-circle test cleared of "
        "denominators into DECIMAL(38)/HUGEINT — the whole estimate is "
        "exact integer arithmetic, so pi_micro hash-matches across "
        "engines. Map-only over a generated range; one 1-row aggregate.",
    tags=("examples", "generator", "scale"),
)
def pi_qmc(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = spark.range(_PI_N).select(F.col("id").alias("i"))
    idx.createOrReplaceTempView("idx")
    return spark.sql("WITH " + _pi_sql("div", "DECIMAL(38,0)"))


# --- pi hex-digit slices via BBP (examples/pi/distbbp parity) ----------------
#
# Bailey–Borwein–Plouffe digit extraction: the fractional part of
# 16^d * pi comes from four modular-exponentiation series
#   {16^d pi} = {4*S1 - 2*S4 - S5 - S6},
#   Sj = sum_k (16^(d-k) mod (8k+j)) / (8k+j)  (k <= d)  + tiny tail,
# so hex digits at any position are computed WITHOUT the earlier ones —
# the reference distributes disjoint k-ranges over mappers
# (hadoop-mapreduce-examples/pi/DistBbp.java); here the k-range is one
# generated relation and each term is EXACT fixed-point integer
# arithmetic (Q48: floor((16^(d-k) mod m) * 2^48 / m); 12 tail terms
# bound the truncated remainder below 2^-48 * 16^12), with the modular
# exponentiation UNROLLED as 12 chained square-and-multiply CTE steps
# (inlining would double the expression per squaring — the materialize-
# per-round lesson from the unigram DP applies to plans, not just
# runtimes). Per-term truncation loses < 1 ulp; 8(d+13) terms lose
# < 2^13 ulps at d=1000, so the TOP 24 bits (6 hex digits) are exact —
# asserted against pi's known hex expansion 243F6A8885A308D3... in
# tests. All arithmetic stays under 2^63 (m <= 8(d+12)+6 < 2^15 and
# m * 2^48 < 2^63), so Spark BIGINT and DuckDB BIGINT agree bit-exactly.

_BBP_SCALE = 1 << 48
_BBP_D = (0, 10, 100, 500, 1000)


def _bbp_body_sql(idiv: str) -> str:
    """Engine-shared CTE chain from a ``bbp_rows`` relation
    (d, k, m, coef, e, tail) to (d, frac_fp, hex6); only the
    integer-division spelling differs between Spark SQL and DuckDB.
    Square-and-multiply is INTERLEAVED — each step replaces the
    (base q, accumulator r) pair under a fixed 7-column projection,
    so the chain stays 12 narrow CTEs (the first draft's separate
    p0..p11 + r0..r12 chains grew a SELECT * projection per step and
    spent ~10 s in plan analysis for a 26k-row compute)."""
    cols = "d, m, coef, e, tail"
    ctes = [f"c0 AS (SELECT {cols}, CAST(16 % m AS BIGINT) AS q, "
            "CAST(1 AS BIGINT) AS r FROM bbp_rows)"]
    for i in range(12):
        ctes.append(
            f"c{i + 1} AS (SELECT {cols}, (q * q) % m AS q, "
            f"(r * (CASE WHEN (e & {1 << i}) != 0 THEN q ELSE 1 END)) "
            f"% m AS r FROM c{i})")
    ctes.append(f"""terms AS (
        SELECT d, coef * (CASE WHEN tail = 0
                   THEN (r * {_BBP_SCALE}) {idiv} m
                   ELSE {_BBP_SCALE} {idiv} (m * tail) END) AS t
        FROM c12
    )""")
    ctes.append(f"""agg AS (
        SELECT d, ((CAST(sum(t) AS BIGINT) % {_BBP_SCALE}) + {_BBP_SCALE})
                  % {_BBP_SCALE} AS frac_fp
        FROM terms GROUP BY d
    )""")
    hex6 = " || ".join(
        f"substr('0123456789ABCDEF', CAST((frac_fp {idiv} "
        f"{1 << (44 - 4 * i)}) % 16 AS INT) + 1, 1)" for i in range(6))
    return (",\n".join(ctes)
            + f"\nSELECT d, frac_fp, {hex6} AS hex6 FROM agg ORDER BY d")


def _bbp_rows_duck() -> str:
    dvals = ",".join(f"({d})" for d in _BBP_D)
    return f"""bbp_rows AS (
        SELECT CAST(dd.d AS BIGINT) AS d, kk.k,
               CAST(8 * kk.k + jj.j AS BIGINT) AS m,
               CAST(jj.coef AS BIGINT) AS coef,
               CAST(CASE WHEN kk.k <= dd.d THEN dd.d - kk.k ELSE 0 END
                    AS BIGINT) AS e,
               CAST(CASE WHEN kk.k <= dd.d THEN 0
                         ELSE (CAST(1 AS BIGINT) << (4 * (kk.k - dd.d)))
                    END AS BIGINT) AS tail
        FROM (VALUES {dvals}) dd(d),
             LATERAL (SELECT unnest(range(0, dd.d + 13)) AS k) kk,
             (VALUES (1, 4), (4, -2), (5, -1), (6, -1)) jj(j, coef)
    )"""


@register(
    "pi_bbp",
    sql="WITH " + _bbp_rows_duck() + ",\n" + _bbp_body_sql("//"),
    doc="BBP hex-digit slices of pi at positions 0/10/100/500/1000 "
        "(examples/pi/DistBbp parity): digit extraction without "
        "computing earlier digits — per-(d,k,series) modular "
        "exponentiation in 12 unrolled square-and-multiply steps, Q48 "
        "fixed-point terms, one keyed sum per position. Everything is "
        "exact BIGINT arithmetic so the oracle hash-matches; the top "
        "6 hex digits are provably exact (truncation < 2^13 ulps of "
        "2^48). The k-range is the distribution axis, exactly the "
        "reference's mapper split.",
    tags=("examples", "generator", "scale"),
)
def pi_bbp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # literal-array explodes, not createDataFrame (a 5-row local
    # createDataFrame costs ~6 s of driver round-trips in this
    # environment — measured; spark.range + explode is 0.3 s); the
    # (d, k) axis — the reference's mapper split — then respreads the
    # term rows across the executors in ONE small exchange
    pos = spark.range(1).select(F.explode(F.array(
        *[F.lit(v).cast("long") for v in _BBP_D])).alias("d"))
    ks = pos.select("d", F.explode(
        F.sequence(F.lit(0).cast("long"), F.col("d") + 12)).alias("k"))
    jc = (spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(j).cast("long").alias("j"),
                 F.lit(c).cast("long").alias("coef"))
        for j, c in ((1, 4), (4, -2), (5, -1), (6, -1))])).alias("x"))
        .select("x.j", "x.coef"))
    k, d = F.col("k"), F.col("d")
    rows = (ks.crossJoin(jc).select(
        d, k, (8 * k + F.col("j")).alias("m"), F.col("coef"),
        F.when(k <= d, d - k).otherwise(F.lit(0)).cast("long").alias("e"),
        F.when(k <= d, F.lit(0).cast("long"))
         .otherwise(F.expr("shiftleft(1L, cast(4 * (k - d) as int))"))
         .cast("long").alias("tail"))
        .repartition(32, "d", "k"))
    # Spark runs the SAME square-and-multiply recurrence as the oracle
    # SQL but with a Generate barrier (explode of a 1-element array)
    # per step: q appears twice in q*q%m, so CollapseProject would
    # otherwise inline the chain into a 2^12-leaf expression at
    # physical planning (measured: ~10 s execution on a 26k-row frame;
    # the unigram-DP tribonacci lesson, SCALE.md note 87 — barriers,
    # not deeper chains)
    keep = ["d", "m", "coef", "e", "tail"]
    cur = rows.select(*keep,
                      (F.lit(16) % F.col("m")).cast("long").alias("q"),
                      F.lit(1).cast("long").alias("r"))
    for i in range(12):
        nxt = F.struct(
            ((F.col("q") * F.col("q")) % F.col("m")).alias("q"),
            ((F.col("r") * F.when(
                F.col("e").bitwiseAND(F.lit(1 << i)) != 0,
                F.col("q")).otherwise(F.lit(1).cast("long")))
             % F.col("m")).alias("r"))
        cur = (cur.select(*keep, F.explode(F.array(nxt)).alias("_s"))
                  .select(*keep, F.col("_s.q").alias("q"),
                          F.col("_s.r").alias("r")))
    s = _BBP_SCALE
    t = (F.col("coef")
         * F.when(F.col("tail") == 0,
                  F.expr(f"(r * {s}) div m"))
            .otherwise(F.expr(f"{s} div (m * tail)")))
    agg = (cur.select("d", t.alias("t"))
              .groupBy("d").agg(F.sum("t").cast("long").alias("_t")))
    frac = ((F.col("_t") % s) + s) % s
    hx = F.concat(*[
        F.expr(f"substr('0123456789ABCDEF', cast((frac_fp div "
               f"{1 << (44 - 4 * i)}) % 16 as int) + 1, 1)")
        for i in range(6)])
    return (agg.select("d", frac.alias("frac_fp"))
               .withColumn("hex6", hx)
               .orderBy("d"))


# --- market-basket pair mining ----------------------------------------------

_MIN_SUPPORT = 3


@register(
    "basket_pairs_lift",
    sql=f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), n_orders AS (
        SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM baskets
    ), item AS (
        SELECT p, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY p
    ), pairs AS (
        SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS co
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= {_MIN_SUPPORT}
    )
    SELECT p1, p2, co,
           (n_orders.n * co * 1000000) // (i1.c * i2.c) AS lift_ppm
    FROM pairs JOIN item i1 ON p1 = i1.p JOIN item i2 ON p2 = i2.p,
         n_orders
    ORDER BY co DESC, p1, p2 LIMIT 20
    """,
    doc="Market-basket pair mining (A-priori pair pass): parts "
        "co-purchased in the same order, min-support pruned, lift = "
        "N*co/(c1*c2) in exact integer ppm. One basket self-join on the "
        "order key (baskets are small, so the per-order pair product is "
        "bounded); item counts broadcast back.",
    tags=("examples", "analytics", "retrieval"),
)
def basket_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # baskets feed FOUR consumers (n_orders, item counts, both pair
    # sides) — materialize the distinct once instead of re-shuffling
    # lineitem per consumer.
    baskets = (li.select(F.col("l_orderkey").alias("o"),
                         F.col("l_partkey").alias("p")).distinct()
                 .localCheckpoint(eager=True))
    n_orders = baskets.agg(F.countDistinct("o").alias("n"))
    item = baskets.groupBy("p").agg(F.count("*").alias("c"))
    a = baskets.select(F.col("o"), F.col("p").alias("p1"))
    b = baskets.select(F.col("o").alias("o2"), F.col("p").alias("p2"))
    pairs = (a.join(b, (a.o == b.o2) & (F.col("p1") < F.col("p2")))
              .groupBy("p1", "p2").agg(F.count("*").alias("co"))
              .where(F.col("co") >= _MIN_SUPPORT))
    i1 = item.select(F.col("p").alias("p1"), F.col("c").alias("c1"))
    i2 = item.select(F.col("p").alias("p2"), F.col("c").alias("c2"))
    return (pairs.join(F.broadcast(i1), "p1").join(F.broadcast(i2), "p2")
                 .join(F.broadcast(n_orders))
                 .select("p1", "p2", "co",
                         F.expr("(n * co * 1000000) div (c1 * c2)")
                          .alias("lift_ppm"))
                 .orderBy(F.desc("co"), "p1", "p2").limit(20))


# --- triangle counting -------------------------------------------------------

@register(
    "triangle_count",
    sql="""
    WITH wt AS (
        SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS w
        FROM documents
    ), bg AS (
        SELECT w[i.i] AS a, w[i.i + 1] AS b
        FROM wt, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2
    ), edges AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        FROM bg WHERE a <> b
    ), tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(count(DISTINCT a) AS BIGINT) FROM
               (SELECT a FROM edges UNION ALL SELECT b FROM edges)) AS n_nodes,
           n_triangles
    FROM tri
    """,
    doc="Triangle counting on the word-adjacency graph — the canonical "
        "two-round MapReduce graph example: canonicalize edges a<b, "
        "join wedges (a,b)+(b,c), close with (a,c). NOTE the "
        "lexicographic a<b orientation does NOT bound hub out-degree "
        "(a low-sorting hub word keeps all its edges outgoing), so "
        "this exact-count example is the pedagogical shape; the "
        "true O(m^1.5) degree-ORIENTED algorithm — every edge points "
        "low-(degree,id) -> high, out-degree <= O(sqrt(m)) — is "
        "ops/graph.triangle_rows, exercised with a per-node census "
        "by the triangle_census query.",
    tags=("examples", "graph"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import ngram_rows
    d = load_table(spark, sf_dir, "documents")
    bg = ngram_rows(d, 2).where(F.col("w1") != F.col("w2"))
    edges = (bg.select(F.least("w1", "w2").alias("a"),
                       F.greatest("w1", "w2").alias("b"))
               .distinct().localCheckpoint(eager=True))
    e1 = edges
    e2 = edges.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (e1.join(e2, e1.b == e2.b2a)
             .join(e3, (e1.a == e3.a3) & (F.col("c") == e3.c3))
             .agg(F.count("*").alias("n_triangles")))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_nodes = (edges.select(F.col("a").alias("x"))
                    .unionAll(edges.select(F.col("b").alias("x")))
                    .agg(F.countDistinct("x").alias("n_nodes")))
    return (n_edges.join(F.broadcast(n_nodes))
                   .join(F.broadcast(tri))
                   .select("n_edges", "n_nodes", "n_triangles"))


_FUZZ_MAX_DIST = 2
_FUZZ_MAX_BLOCK = 5000


@register(
    "fuzzy_match_parts",
    sql=f"""
    WITH named AS (
        SELECT p_partkey, p_name,
               string_split(p_name, ' ')[1] AS blk
        FROM part
    ), ok AS (
        SELECT blk FROM named GROUP BY blk
        HAVING count(*) <= {_FUZZ_MAX_BLOCK}
    ), pairs AS (
        SELECT a.p_partkey AS p1, b.p_partkey AS p2,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM named a JOIN named b
          ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        JOIN ok ON a.blk = ok.blk
    )
    SELECT p1, p2, dist FROM pairs
    WHERE dist <= {_FUZZ_MAX_DIST}
    ORDER BY dist, p1, p2 LIMIT 50
    """,
    doc="Entity-resolution fuzzy match on part names: block on the "
        "first name token (each record in exactly ONE block, so the "
        "pair count is sum of block-size^2, never all-pairs), "
        "edit-distance <= 2 within a block, hot blocks capped at "
        "5000 (the minhash max_bucket discipline; fixture first-token "
        "blocks run ~n/20, so the cap binds only at sf>=1 where the "
        "conservative direction is to skip, not melt). levenshtein() is "
        "native in both engines -> exact oracle.",
    tags=("examples", "similarity", "text"),
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The record-linkage shape, DEDUPE-FIRST: the fixture (like real
    entity data) is duplicate-heavy — 64 distinct names over 20k rows
    at sf0.1 — so enumerating row pairs is quadratic in duplicate
    counts even with perfect blocking (the old 43 s was real matching
    pairs, not candidates). Exact rewrite: (1) pair DISTINCT NAMES
    within blocks (the true entity space; at web scale this step is
    ops/editjoin.edit_distance_pairs, the pigeonhole segment join),
    (2) truncate each name's id pool to its 51 smallest — provably
    lossless for ORDER BY (dist, p1, p2) LIMIT 50, since the k-th
    smallest partner id already has k-1 earlier pairs — and (3)
    explode only the truncated pools back to id pairs. Same result as
    the oracle's row-pair definition, measured 43 s -> ~2 s at sf0.1,
    and no duplicate-count cliff at any scale."""
    from pyspark.sql.window import Window
    _POOL = 51                       # limit 50 ⇒ ids beyond rank 51 can't appear
    p = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_name",
                F.split("p_name", " ").getItem(0).alias("blk"))
    ok = (p.groupBy("blk").agg(F.count("*").alias("_n"))
           .where(F.col("_n") <= _FUZZ_MAX_BLOCK).select("blk"))
    capped = p.join(F.broadcast(ok), "blk", "left_semi")
    w = Window.partitionBy("p_name").orderBy("p_partkey")
    pools = (capped.withColumn("_rk", F.row_number().over(w))
                   .filter(F.col("_rk") <= _POOL)
                   .groupBy("blk", "p_name")
                   .agg(F.sort_array(F.collect_list("p_partkey"))
                         .alias("ids")))
    # same-name pairs (dist 0): combinations within one pool
    pair_arr = F.flatten(F.transform(
        "ids",
        lambda x, i: F.transform(
            F.slice("ids", i + F.lit(2), F.size("ids")),
            lambda y: F.struct(x.alias("p1"), y.alias("p2")))))
    same = (pools.select(F.explode(pair_arr).alias("pr"))
                 .select(F.col("pr.p1").alias("p1"),
                         F.col("pr.p2").alias("p2"),
                         F.lit(0).cast("bigint").alias("dist")))
    # cross-name pairs within a block: distinct-name join (entity space,
    # tiny post-dedupe), levenshtein once per NAME pair, then pool x pool
    a = pools.select("blk", F.col("p_name").alias("n1"),
                     F.col("ids").alias("ia"))
    b = pools.select(F.col("blk").alias("blk2"),
                     F.col("p_name").alias("n2"), F.col("ids").alias("ib"))
    cross = (a.join(b, (a.blk == b.blk2) & (F.col("n1") < F.col("n2")))
              .withColumn("dist",
                          F.levenshtein("n1", "n2").cast("bigint"))
              .filter(F.col("dist") <= _FUZZ_MAX_DIST)
              .select("dist", F.explode("ia").alias("x"), "ib")
              .select("dist", "x", F.explode("ib").alias("y"))
              .select(F.least("x", "y").alias("p1"),
                      F.greatest("x", "y").alias("p2"), "dist"))
    return (same.unionByName(cross)
                .orderBy("dist", "p1", "p2").limit(50))


# --- SLS scheduler replay (SURVEY §2.10) -------------------------------------


@register(
    "sls_fifo_replay",
    sql="""
    WITH trace AS (
        SELECT o_orderkey AS job_id, o_orderpriority AS queue,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) AS submit_s,
               CAST(1 + o_orderkey % 300 AS BIGINT) AS dur_s
        FROM orders
    ), c AS (
        SELECT *, sum(dur_s) OVER w AS cumdur
        FROM trace
        WINDOW w AS (PARTITION BY queue ORDER BY submit_s, job_id
                     ROWS UNBOUNDED PRECEDING)
    ), f AS (
        SELECT *, cumdur + max(submit_s - (cumdur - dur_s)) OVER w AS finish_s
        FROM c
        WINDOW w AS (PARTITION BY queue ORDER BY submit_s, job_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT queue,
           CAST(count(*) AS BIGINT) AS n_jobs,
           CAST(max(finish_s) - min(submit_s) AS BIGINT) AS makespan_s,
           CAST(sum(dur_s) AS BIGINT) AS busy_s,
           CAST(sum(finish_s - dur_s - submit_s) AS BIGINT) AS tot_wait_s,
           CAST(max(finish_s - dur_s - submit_s) AS BIGINT) AS max_wait_s
    FROM f GROUP BY queue ORDER BY queue
    """,
    doc="SLS scheduler-policy replay (hadoop-tools/hadoop-sls/"
        "SLSRunner.java): a deterministic job trace (queue = order "
        "priority, duration = keyed synthetic seconds) replayed under "
        "per-queue serial FIFO. The sequential finish-time recurrence is "
        "computed in closed max-plus form — two queue-partitioned window "
        "scans, no driver loop (ops/sched.py; the capacity/fair variant "
        "is heap-simulated per queue and equivalence-tested in "
        "tests/test_sched.py). Output: the SLS per-queue wait/makespan "
        "report.",
    tags=("maintenance", "windows", "examples"),
)
def sls_fifo_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sched import fifo_schedule, queue_stats
    o = load_table(spark, sf_dir, "orders")
    trace = o.select(
        F.col("o_orderkey").alias("job_id"),
        F.col("o_orderpriority").alias("queue"),
        F.unix_timestamp("o_orderdate").cast("long").alias("submit_s"),
        (F.lit(1) + F.col("o_orderkey") % 300).cast("long").alias("dur_s"))
    return queue_stats(fifo_schedule(trace))

"""Round-13 optimization invariants.

The r13 norm-hoisting sweep (ops/similarity.cosine_pre) moves each
side's norm fold below the join so it runs once per row instead of
once per joined pair. That is only legal because the hoisted value is
BIT-IDENTICAL to the inline evaluation — same fold expression, same
operand order — and because the plan-time centroid norms
(_py_fold_norm) reproduce the Column fold exactly in IEEE doubles.
These tests pin both claims; any divergence would silently shift
cos_sim values across the whole similarity family.
"""

import math
import random
import struct

from pyspark.sql import functions as F

from hops_spark.ops.similarity import (_py_fold_norm, cosine, cosine_pre,
                                       dot, norm)


def _bits(x):
    return struct.pack(">d", float(x))


def _vecs(n, dim, seed):
    rnd = random.Random(seed)
    return [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]


def test_py_fold_norm_bit_exact_vs_column_fold(spark):
    """Driver-side norm of a literal vector == the Column fold on the
    same values, bit for bit (includes denormal-ish and mixed-magnitude
    components where fold order matters)."""
    vecs = _vecs(40, 64, seed=13) + [
        [1e-154, 1e154, -1e-154],          # magnitude spread
        [0.1, 0.2, 0.3] * 21 + [0.4],      # repeating decimals, dim 64
        [0.0] * 8,                          # zero vector
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    got = [r[0] for r in df.select(norm(F.col("v")).alias("n")).collect()]
    want = [_py_fold_norm(v) for v in vecs]
    assert [_bits(g) for g in got] == [_bits(w) for w in want]


def test_cosine_pre_bit_identical_to_cosine(spark):
    """cosine_pre with hoisted norm columns == inline cosine, bit for
    bit, on random pairs — the invariant the whole r13 hoisting sweep
    rests on."""
    pairs = list(zip(_vecs(40, 64, seed=17), _vecs(40, 64, seed=19)))
    df = spark.createDataFrame(pairs, "a array<double>, b array<double>")
    inline = [r[0] for r in
              df.select(cosine(F.col("a"), F.col("b")).alias("c"))
                .collect()]
    hoisted = [r[0] for r in
               (df.withColumn("_na", norm(F.col("a")))
                  .withColumn("_nb", norm(F.col("b")))
                  .select(cosine_pre(F.col("a"), F.col("b"),
                                     F.col("_na"), F.col("_nb")).alias("c"))
                  .collect())]
    assert [_bits(x) for x in inline] == [_bits(x) for x in hoisted]


def test_py_fold_norm_matches_naive_math():
    """Sanity: the fold is the plain sum-of-squares sqrt (not fsum/
    Kahan — the Column fold is a plain left fold and the twin must
    drift WITH it, not be more accurate)."""
    v = [0.1, 0.2, 0.3]
    acc = 0.0
    for x in v:
        acc += x * x
    assert _bits(_py_fold_norm(v)) == _bits(math.sqrt(acc))


def test_py_term_vector_bit_identical_to_column_derivation(spark):
    """Driver-side query-term vectors (_py_term_vector) == the Column
    term_vectors derivation, element for element bit for bit — the
    invariant that lets maxsim_topk inline the query side as literals.
    Covers short (<3 char) terms, long multi-gram terms, unicode, and
    a scan for zero-norm terms (where the twin returns None and the
    Column side is dropped by the nonzero filter)."""
    from pyspark.sql import functions as F

    from hops_spark.ops.retrieval import MSIM_DIM, _py_term_vector, \
        term_vectors

    terms = ["spark", "merge", "vector", "a", "ab", "abc",
             "internationalization", "sûreté", "the", "zzzzzz",
             "data2026", "x" * 40]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    tv = term_vectors(df, "term", MSIM_DIM)
    nonzero = F.aggregate(F.col("v"), F.lit(0.0),
                          lambda a, x: a + x * x) > 0
    got = {r["term"]: list(r["v"])
           for r in tv.filter(nonzero).collect()}
    for t in terms:
        u = _py_term_vector(t, MSIM_DIM)
        if u is None:
            assert t not in got        # dropped on both sides
        else:
            assert [_bits(x) for x in u] == [_bits(x) for x in got[t]], t


def test_maxsim_literal_query_equals_cross_join_shape(spark):
    """maxsim_topk (literal-query shape) == the pre-r13-continuation
    cross-join evaluation, value for value, on a fixture whose vocab
    overlaps the query terms partially (hits, misses, repeated terms
    across docs)."""
    from hops_spark.ops.retrieval import maxsim_topk, term_vectors
    from hops_spark.ops.similarity import cosine_pre, norm
    from hops_spark.ops.text import words
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "spark shuffle merge spill"),
         (2, "vector index probe"),
         (3, "merge sort vector spark"),
         (4, "unrelated words entirely"),
         (5, "spark spark spark")],
        "doc_id long, text string")
    qterms = ["spark", "merge", "vector"]
    got = {r["doc_id"]: r["maxsim"]
           for r in maxsim_topk(docs, qterms, k=10).collect()}

    # reference: the former cross-join shape, reconstructed verbatim
    dterms = (docs.select("doc_id",
                          F.explode(words(F.col("text"))).alias("term"))
                  .distinct())
    nonzero = F.aggregate(F.col("v"), F.lit(0.0),
                          lambda a, x: a + x * x) > 0
    tv = term_vectors(dterms.select("term").distinct(), "term").filter(
        nonzero)
    dt = (dterms.join(tv, "term").withColumnRenamed("v", "tv")
                .withColumn("_ntv", norm(F.col("tv"))))
    qt = (spark.range(1).select(F.explode(F.array(*[
            F.struct(F.lit(i).cast("int").alias("qi"),
                     F.lit(t).alias("qterm"))
            for i, t in enumerate(qterms)])).alias("x"))
          .select("x.qi", "x.qterm"))
    q = (qt.join(term_vectors(qt.select(F.col("qterm").alias("term")),
                              "term").filter(nonzero),
                 qt["qterm"] == F.col("term"))
           .select("qi", F.col("v").alias("qv"))
           .withColumn("_nqv", norm(F.col("qv"))))
    per_q = (dt.crossJoin(F.broadcast(q))
               .select("doc_id", "qi",
                       F.round(cosine_pre(F.col("tv"), F.col("qv"),
                                          F.col("_ntv"), F.col("_nqv")),
                               6).alias("c"))
               .groupBy("doc_id", "qi").agg(F.max("c").alias("m")))
    piv = per_q.groupBy("doc_id").agg(
        *[F.max(F.when(F.col("qi") == i, F.col("m"))).alias(f"c{i}")
          for i in range(len(qterms))])
    score = None
    for i in range(len(qterms)):
        c = F.coalesce(F.col(f"c{i}"), F.lit(0.0))
        score = c if score is None else score + c
    want = {r["doc_id"]: r["maxsim"] for r in
            piv.select("doc_id", F.round(score, 6).alias("maxsim"))
               .collect()}
    assert set(got) == set(want)
    for d in got:
        assert _bits(got[d]) == _bits(want[d]), d

"""Round-10 regression tests for ADVICE.md r9 findings: exact integer
bucketing in interval_overlap_join, fail-loud wordpiece char fallback,
and the neyman_allocation zero-weight guard (the attribution
late-arrival test lives with the other fold tests in
tests/test_streaming.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_interval_overlap_join_negative_and_huge_axis(spark):
    """Bucket indices are exact integer floor division: negative axes
    get uniform-width buckets (truncation-toward-zero made bucket 0
    double-width) and values beyond 2^53 don't take a lossy double
    roundtrip. Result set equals the naive quadratic join on both a
    negative grid and a near-2^62 grid."""
    from hops_spark.ops.join import interval_overlap_join

    big = 1 << 62
    left = spark.createDataFrame(
        [(1, -35, -12),            # spans several negative buckets
         (2, -9, -1),              # inside the (-10, 0) bucket
         (3, -5, 5),               # straddles zero
         (4, big + 3, big + 25)],  # > 2^53: double rounding territory
        "click_id long, l_start long, l_end long")
    right = spark.createDataFrame(
        [(10, -40, -30),           # overlaps 1
         (11, -11, -10),           # overlaps 1 at the bucket seam
         (12, -2, 0),              # overlaps 2 and 3
         (13, big + 20, big + 40),  # overlaps 4
         (14, big + 26, big + 30)],  # just past 4's end
        "error_id long, r_start long, r_end long")
    got = [(r["click_id"], r["error_id"]) for r in
           interval_overlap_join(left, right, bucket_width=10).collect()]
    naive = {(lr[0], rr[0])
             for lr in left.collect() for rr in right.collect()
             if lr[1] <= rr[2] and rr[1] <= lr[2]}
    assert sorted(got) == sorted(naive)
    assert len(got) == len(set(got))
    assert (4, 13) in naive and all(p[1] != 14 for p in naive)


def test_interval_bucket_expr_is_true_floor(spark):
    """The bucket expression equals python floor division on extreme
    and negative longs (the old (x/w)::long was trunc-toward-zero and
    lossy past 2^53)."""
    w = 7
    vals = [-(1 << 62) + 5, -15, -7, -1, 0, 1, 6, 7,
            (1 << 53) + 1, (1 << 62) + 3]
    df = spark.range(1).select(
        F.explode(F.array(*[F.lit(v).cast("long") for v in vals])).alias("x"))
    got = [r["b"] for r in df.select(
        F.expr(f"((x) - pmod(x, {w})) div {w}").alias("b"))
        .orderBy("x").collect()]
    assert got == [v // w for v in sorted(vals)]


def test_wordpiece_char_fallback_fails_loud_on_foreign_vocab(spark):
    """A piece table built from a DIFFERENT word histogram must raise
    for over-length words too (the greedy path already did) — not emit
    silently out-of-inventory char pieces."""
    from hops_spark.ops.unigram import word_counts
    from hops_spark.ops.wordpiece import wp_greedy_segment, wp_piece_table

    docs = spark.createDataFrame(
        [(1, "abba abba baab")], "doc_id long, text string")
    wc = word_counts(docs)
    pieces = wp_piece_table(wc, top_k=4, min_count=1, max_piece=3)
    # same-histogram fallback still total: an over-length word of known
    # chars segments per-char
    long_known = spark.createDataFrame(
        [("abababababab", 1)], "w string, n_occ long")
    seg = wp_greedy_segment(long_known, pieces, max_len=10).collect()[0]
    assert seg["n_pieces"] == 12 and seg["seg"].startswith("a+##b")
    # foreign char in an over-length word -> loud failure
    long_foreign = spark.createDataFrame(
        [("abababababzb", 1)], "w string, n_occ long")
    with pytest.raises(Exception, match="lacks char piece"):
        wp_greedy_segment(long_foreign, pieces, max_len=10).collect()


def test_neyman_allocation_zero_weight_fails_loud(spark, tmp_path):
    """All-constant strata give zero total Neyman weight; both engines
    must fail loud (DuckDB raises div-by-zero) instead of Spark
    silently emitting NULL allocations."""
    from hops_spark.queries.analytics import neyman_allocation

    spark.createDataFrame(
        [(i, "1-URGENT" if i % 2 else "2-HIGH", 100.0) for i in range(6)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    with pytest.raises(Exception, match="zero total stratum weight"):
        neyman_allocation(spark, str(tmp_path)).collect()

"""Plan-shape assertions: the 100 TB design rules must be visible in the
physical plan (SURVEY §4; the '.explain and iterate' directive).

- filters/projections reach the parquet scan (PushedFilters/ReadSchema)
- dimension joins broadcast
- aggregates are partial+final (map-side combine)
- top-k is TakeOrderedAndProject, not a global sort
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.registry import load_all

SPECS = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted") \
        if hasattr(df._sc._jvm, "PythonSQLUtils") else _plan(df)


def test_q6_filter_pushdown(spark, sf_dir):
    df = SPECS["q6_forecast_revenue"].fn(spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    # shipdate + discount + quantity predicates pushed to the scan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q1_column_pruning(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].fn(spark, sf_dir)
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema  # unused column pruned from scan


def test_q1_partial_final_aggregate(spark, sf_dir):
    plan = _plan(SPECS["q1_pricing_summary"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(SPECS["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_top_customers_take_ordered(spark, sf_dir):
    plan = _plan(SPECS["top_customers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_wordcount_whole_stage_codegen(spark, sf_dir):
    df = SPECS["wordcount"].fn(spark, sf_dir)
    df.collect()  # AQE shows codegen spans only in the final plan
    plan = _plan(df)
    # codegen'd operators carry the '*(n)' marker in the final plan
    assert "*(1)" in plan and "HashAggregate" in plan


def test_scan_reads_only_needed_columns(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    plan = _formatted(li)
    rs = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(SPECS["join_semi"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_events_window_single_shuffle(spark, sf_dir):
    plan = _plan(SPECS["tumbling_window_agg"].fn(spark, sf_dir))
    # groupBy(window, type) = one exchange for the agg (+1 for orderBy)
    assert plan.count("Exchange") <= 3


def test_jaccard_verify_broadcasts_pairs(spark, sf_dir):
    """The dedup verify stage must stream the shingle table against
    broadcast candidate pairs — no shuffle of the corpus-sized side."""
    plan = _plan(SPECS["minhash_dedup_pairs"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_scan_md5_filter_pushes_projection(spark, sf_dir):
    df = SPECS["scan_md5_filter"].fn(spark, sf_dir)
    plan = _formatted(df)
    rs = plan.split("ReadSchema")[1][:300]
    assert "text" not in rs  # filter is on derived key; text column pruned


def test_asof_join_single_shuffle(spark, sf_dir):
    """union-sort as-of join: one exchange for the window partition key
    (+1 possible for a final order) — never a range cross join."""
    plan = _plan(SPECS["join_asof"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q4_semi_join_shape(spark, sf_dir):
    plan = _plan(SPECS["q4_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_q22_anti_join_shape(spark, sf_dir):
    plan = _plan(SPECS["q22_dormant_customers"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_knn_bruteforce_broadcasts_queries(spark, sf_dir):
    plan = _plan(SPECS["knn_bruteforce"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_meta_point_lookup_prunes_text(spark, sf_dir):
    """The inode table is derived from documents; a point lookup must
    never drag the document text through the scan (the lookup key is a
    derived column, so the win is pruning, not predicate pushdown)."""
    df = SPECS["meta_point_lookup"].fn(spark, sf_dir)
    plan = _plan(df)
    rs = plan.split("ReadSchema")[1][:300]
    assert "text" not in rs and "doc_id" in rs


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """CompositeInputFormat's physical contract — identically
    sorted+partitioned inputs join map-side with NO shuffle — holds for
    bucketed tables: the join plan contains zero Exchange operators."""
    import uuid

    from hops_spark.io.writers import write_sorted_bucketed

    a, b = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_sorted_bucketed(li, a, "l_orderkey", buckets=4)
    write_sorted_bucketed(od.withColumnRenamed("o_orderkey", "l_orderkey"),
                          b, "l_orderkey", buckets=4)
    # force the sort-merge path (the tiny test tables would otherwise
    # auto-broadcast, which also needs no shuffle but proves less)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta, tb = spark.table(a), spark.table(b)
        joined = ta.join(tb, "l_orderkey")
        joined.collect()
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE {a}")
        spark.sql(f"DROP TABLE {b}")


def test_inodes_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """HopsFS PPIS parity (BaseINodeLock.java:69-118): the inodes table
    written partitioned by parent directory answers a listing by reading
    ONE partition — the plan shows a PartitionFilters entry and only the
    matching directory's files."""
    from hops_spark.catalog.metastore import inodes_from_documents
    from hops_spark.io.writers import write_partitioned

    ino = inodes_from_documents(spark, sf_dir)
    out = str(tmp_path / "inodes_by_parent")
    write_partitioned(ino, out, "parent")
    listing = (spark.read.parquet(out)
               .filter(F.col("parent") == "src1")
               .select("name", "inode_id", "size"))
    listing.collect()
    plan = _formatted(listing)
    pf = plan.split("PartitionFilters")[1][:200]
    assert "src1" in pf  # pruned at planning time, not post-scan


def test_simhash_pairs_no_self_join(spark, sf_dir):
    """simhash_near_pairs uses collect-sort-cap-emit (one shuffle), not a
    bucket self-join — the O(k²)-cliff guard (VERDICT r1 #5)."""
    plan = _plan(SPECS["simhash_near_pairs"].fn(spark, sf_dir))
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin at all
    # bit-vote agg + bucket agg + distinct + the query's presentation sort
    assert plan.count("Exchange") <= 4


def test_embedding_near_dup_caps_buckets(spark, sf_dir):
    """embedding_near_dup drops oversized LSH buckets before the pair
    join (bucket-size semi-filter broadcasts; VERDICT r1 #6)."""
    plan = _plan(SPECS["embedding_near_dup"].fn(spark, sf_dir))
    assert "LeftSemi" in plan  # size-cap filter is present
    assert "BroadcastHashJoin" in plan  # ...and broadcast, not shuffled


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """Benchmark shingle set must broadcast; corpus side streams."""
    plan = _plan(SPECS["decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_prefix_sum_window_is_partitioned(spark, sf_dir):
    """The distributed scan's window must be keyed by partition id —
    never an empty partitionBy over the data (the global-window cliff)."""
    from pyspark.sql import functions as F

    from hops_spark.ops.sort import total_order_prefix_sum

    df = spark.range(0, 1000).withColumnRenamed("id", "k") \
              .withColumn("v", F.lit(1))
    plan = _plan(total_order_prefix_sum(df, "v", "k"))
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line
            break
    else:
        raise AssertionError("no window found in plan")


def test_total_order_offsets_broadcast_not_map_literal(spark, sf_dir):
    """Partition offsets must ride a broadcast join, never a create_map
    literal (a 100k-partition literal is a 200k-node Catalyst expression
    — the analysis-cost cliff of SCALE.md note 22). The rank path also
    needs no window at all (local index from monotonically_increasing_id)."""
    from pyspark.sql import functions as F

    from hops_spark.ops.sort import total_order_prefix_sum, total_order_rank

    df = spark.range(0, 1000).withColumnRenamed("id", "k") \
              .withColumn("v", F.lit(1))
    for out in (total_order_rank(df, "k"),
                total_order_prefix_sum(df, "v", "k")):
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan
        assert "map(" not in plan          # no create_map offsets literal
    # rank's DATA side is window-free (local index from
    # monotonically_increasing_id); the only window left is the
    # offsets-side running sum over ≤ #partitions rows.
    rank_plan = _plan(total_order_rank(df, "k"))
    assert "row_number" not in rank_plan
    assert "monotonically_increasing_id" in rank_plan


def test_split_assign_is_map_only(spark, sf_dir):
    """dataset_split_stats: the split assignment adds zero exchanges
    beyond the final stats aggregate — assignment is a scan projection."""
    plan = _plan(SPECS["dataset_split_stats"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2        # partial+final agg only
    assert "Join" not in plan


def test_tfidf_pairs_join_on_term_not_cartesian(spark, sf_dir):
    """tfidf_doc_pairs: the postings self-join must key on term (hash
    or sort-merge), never a cartesian product; norms/idf sides
    broadcast."""
    plan = _plan(SPECS["tfidf_doc_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the contractual 1-row broadcast
    # crossJoins (n_docs scalar), never a data-data product
    assert plan.count("BroadcastNestedLoopJoin BuildRight, Cross") \
        == plan.count("BroadcastNestedLoopJoin")
    assert "BroadcastExchange" in plan        # n_docs / norms broadcast
    assert "[term" in plan.split("BroadcastHashJoin", 1)[-1] or \
        "SortMergeJoin" in plan               # self-join keyed on term


def test_doc_perplexity_single_corpus_scan(spark, sf_dir):
    """doc_perplexity: exactly one parquet scan of documents — the
    per-doc bigram count cache feeds both the corpus LM build and the
    scoring join (r4 refactor; two scans would double the 100 TB
    cost)."""
    df = SPECS["doc_perplexity"].fn(spark, sf_dir)
    plan = _formatted(df)
    assert plan.count("Scan parquet") + plan.count("Scan ExistingRDD") \
        <= plan.count("InMemoryTableScan") + 2


def test_cms_grid_aggregate_is_partial_final(spark, sf_dir):
    """cms_heavy_hitters: the grid build must map-side combine (partial
    + final HashAggregate), and the grid/total sides broadcast into the
    probe join."""
    plan = _plan(SPECS["cms_heavy_hitters"].fn(spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_single_shuffle(spark, sf_dir):
    """BPE per-iteration pair count: one aggregate over the cached
    vocab table — the iteration cost must be vocab-bounded, with no
    join anywhere."""
    from hops_spark.ops.bpe import _pair_counts, vocab_symbols

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = vocab_symbols(d).select("n", "sym").cache()
    try:
        plan = _plan(_pair_counts(vocab))
        assert "Join" not in plan
        assert plan.count("Exchange") <= 2    # vocab agg + pair agg
    finally:
        vocab.unpersist()


def test_plan_audit_counts_union_children(spark):
    """tools/plan_audit.union_children totals the children of every
    Union node: a 3-way union and a 2-way union under a join."""
    import os
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from plan_audit import union_children

    three = spark.range(3).union(spark.range(4)).union(spark.range(5))
    two = spark.range(2).union(spark.range(6)).withColumnRenamed("id", "k")
    df = three.join(two, three["id"] == two["k"])
    df.collect()
    assert union_children(_plan(df).split("== Initial Plan ==")[0]) == 5
    assert union_children(_plan(spark.range(3))) == 0


# A final adaptive plan with four exchange nodes, the last a reuse of the
# second: the aggregate's shuffle is read by both sides of a self-join.
_REUSED_EXCHANGE_PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 5
   +- *(7) HashAggregate(keys=[], functions=[count(1)], output=[count#20L])
      +- ShuffleQueryStage 4
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=190]
            +- *(6) HashAggregate(keys=[], functions=[partial_count(1)], output=[count#22L])
               +- AQEShuffleRead coalesced
                  +- ShuffleQueryStage 3
                     +- Exchange rangepartitioning(k#1L ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS, [plan_id=173]
                        +- *(5) SortMergeJoin [k#1L], [k#6L], Inner
                           :- *(3) Sort [k#1L ASC NULLS FIRST], false, 0
                           :  +- *(3) HashAggregate(keys=[g#8L], functions=[count(1)], output=[k#1L, count#2L])
                           :     +- AQEShuffleRead coalesced
                           :        +- ShuffleQueryStage 0
                           :           +- Exchange hashpartitioning(g#8L, 8), ENSURE_REQUIREMENTS, [plan_id=96]
                           :              +- *(1) Range (0, 100, step=1, splits=4)
                           +- *(4) Sort [k#6L ASC NULLS FIRST], false, 0
                              +- *(4) HashAggregate(keys=[g#9L], functions=[count(1)], output=[k#6L, count#7L])
                                 +- AQEShuffleRead coalesced
                                    +- ShuffleQueryStage 2
                                       +- ReusedExchange [g#9L, count#11L], Exchange hashpartitioning(g#8L, 8), ENSURE_REQUIREMENTS, [plan_id=96]
"""


def test_plan_audit_skips_reused_exchanges():
    """tools/plan_audit.shuffle_exchanges counts only exchange nodes that
    run a shuffle: the reused exchange line names an ``Exchange`` too but
    adds none (a plain substring count reads 5)."""
    import os
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from plan_audit import shuffle_exchanges

    assert _REUSED_EXCHANGE_PLAN.count("Exchange") == 5
    assert shuffle_exchanges(_REUSED_EXCHANGE_PLAN) == 3

"""Sort / partition / top-k operators (SURVEY.md §2.5).

The reference's whole sort stack (MapOutputBuffer quicksort + spill,
TotalOrderPartitioner + InputSampler range sampling, tiered k-way merge
— MapTask.java:888-2083, TotalOrderPartitioner.java:50) is built into
Spark: ``orderBy`` samples a RangePartitioner and Tungsten does the
external sort. What remains to implement is the *spec surface*:

- KeyFieldBasedComparator/Partitioner (`-k2,2nr` style unix-sort field
  specs; KeyFieldBasedComparator.java:53, KeyFieldHelper.java)
- secondary sort (partition by k1, sort by (k1,k2), iterate groups in
  order; ReduceContextImpl.java:66, examples/SecondarySort.java)
- top-k (global and per-group)
- SortValidator-style self-checks (see tests).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def total_order_sort(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Total-order sort (Sort example / TeraSort driver parity,
    examples/Sort.java:57). Spark's orderBy = sampled range partitioning
    + per-partition external sort; the global order is the concatenation
    of partition ranges — exactly TotalOrderPartitioner's contract."""
    return df.orderBy(*keys)


def _partition_offsets(s: DataFrame, value: Column) -> DataFrame:
    """Exclusive prefix offsets per partition id as a TINY DataFrame
    (one row per partition): offset(p) = Σ_{q<p} value(q). The running
    sum runs over ≤ #partitions rows — a bounded input, so its
    single-partition window is safe by construction. The result is
    broadcast-joined back (never a `create_map` literal: at 100k+
    partitions a map literal is a 200k-node Catalyst expression — the
    analysis-cost cliff measured for IVF codebooks, SCALE.md note 22)."""
    per = s.groupBy("_pid").agg(F.coalesce(value, F.lit(0)).alias("_c"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return per.select(
        "_pid",
        F.coalesce(F.sum("_c").over(w), F.lit(0)).cast("long").alias("_offset"))


#: lower 33 bits of monotonically_increasing_id = consecutive 0-based
#: row index within the partition (documented layout: partition id in
#: the upper bits, record number in the lower 33).
_MID_ROW_MASK = (1 << 33) - 1


def total_order_rank(df: DataFrame, *keys: str,
                     rank_col: str = "global_rank") -> DataFrame:
    """Global 1-based rank WITHOUT a single-partition window (the
    local-passes/cluster-dies pattern): TeraSort-style two-phase —
    range-partition + sort within partitions, then rank = (sum of
    earlier partitions' row counts) + local row index + 1. The local
    index is the lower 33 bits of ``monotonically_increasing_id`` over
    the checkpointed sorted partitions (consecutive by contract), so
    the big side needs NO window and NO extra exchange; the per-
    partition counts ride back on a broadcast join. Requires unique
    keys for a deterministic rank; costs one extra pass for counts."""
    # Pin the partitioning: repartitionByRange boundaries come from a
    # SAMPLE, and the offsets job and the final job are separate
    # executions — without materialization they can sample different
    # boundaries, mis-aligning the offsets (observed at sf0.1: max rank
    # 615k over 600k rows). The eager checkpoint is the same
    # materialize-once contract zipWithIndex uses.
    s = (df.repartitionByRange(*[F.col(k) for k in keys])
           .sortWithinPartitions(*keys)
           .withColumn("_pid", F.spark_partition_id())
           .localCheckpoint(eager=True))
    offsets = _partition_offsets(s, F.count(F.lit(1)))
    local = F.monotonically_increasing_id().bitwiseAND(F.lit(_MID_ROW_MASK))
    return (s.withColumn("_local", local)
             .join(F.broadcast(offsets), "_pid")
             .withColumn(rank_col,
                         (F.col("_offset") + F.col("_local") + 1).cast("long"))
             .drop("_pid", "_local", "_offset"))


_KEYSPEC = re.compile(r"^-k(\d+)(?:\.(\d+))?(?:,(\d+)(?:\.(\d+))?)?([nr]*)$")


def parse_key_specs(specs: Iterable[str], field_cols: list[str]) -> list[Column]:
    """Parse unix-sort `-kF[.C][,F[.C]][nr]` specs — the FULL
    KeyFieldBasedComparator grammar including char offsets within a
    field (reference KeyFieldHelper.java parseOption: `-k2.3,2.5nr`
    sorts on chars 3..5 of field 2, numeric, reversed) — into order-by
    Columns over the given field columns. Fields and chars are 1-based;
    a missing end char means "through end of that field". `n` → numeric
    (cast double), `r` → reverse."""
    cols: list[Column] = []
    for s in specs:
        m = _KEYSPEC.match(s)
        if not m:
            raise ValueError(f"bad key spec: {s}")
        f1 = int(m.group(1))
        c1 = int(m.group(2) or 1)
        f2 = int(m.group(3) or m.group(1))
        c2 = int(m.group(4)) if m.group(4) else None
        flags = m.group(5)

        def order(c: Column) -> Column:
            return c.desc() if "r" in flags else c.asc()

        for pos in range(f1, f2 + 1):
            c: Column = F.col(field_cols[pos - 1])
            lo = c1 if pos == f1 else 1
            hi = c2 if (pos == f2 and c2 is not None) else None
            if lo > 1 or hi is not None:
                length = (hi - lo + 1) if hi is not None else (1 << 30)
                c = F.substring(c.cast("string"), lo, length)
            if "n" in flags:
                c = c.cast("double")
            cols.append(order(c))
    return cols


def key_field_sort(df: DataFrame, specs: Iterable[str]) -> DataFrame:
    """Sort by unix-style field specs over the DataFrame's columns."""
    return df.orderBy(*parse_key_specs(specs, df.columns))


def secondary_sort(df: DataFrame, group_key: str | list[str], order_key: str | list[str],
                   n_partitions: int | None = None) -> DataFrame:
    """Secondary-sort physical layout: partition by k1, sort within
    partitions by (k1, k2) — the exact reducer-input contract of the
    reference (FirstPartitioner + sort comparator + grouping comparator,
    examples/SecondarySort.java:133-224). Downstream mapPartitions /
    applyInPandas then sees each group contiguous and k2-ordered."""
    gk = [group_key] if isinstance(group_key, str) else list(group_key)
    ok = [order_key] if isinstance(order_key, str) else list(order_key)
    parts = df.repartition(n_partitions, *gk) if n_partitions else df.repartition(*gk)
    return parts.sortWithinPartitions(*(gk + ok))


def top_k(df: DataFrame, k: int, *order: Column | str) -> DataFrame:
    """Global top-k: orderBy + limit → Spark's TakeOrderedAndProject
    (per-partition heaps + driver merge; no global sort). This is the
    scalable form of the reference's sort-then-single-reducer idiom
    (examples/Grep.java:85-90)."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(df: DataFrame, group_cols: list[str], k: int,
                    *order: Column | str, rank_col: str = "rn",
                    keep_rank: bool = False) -> DataFrame:
    """Per-group top-k via row_number window — one shuffle on the group
    key; AQE handles group-count skew."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def total_order_prefix_sum(df: DataFrame, value_col: str, *keys: str,
                           out_col: str = "running_total") -> DataFrame:
    """Global inclusive prefix sum in total (*keys) order WITHOUT a
    single-partition window: TeraSort-style two-phase — range-partition
    + sort within partitions, per-partition running sum, then add the
    collected per-partition totals' offsets (≤ #partitions rows to the
    driver, the zipWithIndex contract). The distributed scan primitive
    behind sequence packing / byte-offset assignment."""
    # Same materialize-once contract as total_order_rank above: the
    # sampled range boundaries must be identical for the totals job and
    # the final scan, which only the checkpoint guarantees.
    s = (df.repartitionByRange(*[F.col(k) for k in keys])
           .sortWithinPartitions(*keys)
           .withColumn("_pid", F.spark_partition_id())
           .localCheckpoint(eager=True))
    offsets = _partition_offsets(s, F.sum(value_col))
    w = Window.partitionBy("_pid").orderBy(*keys)
    return (s.join(F.broadcast(offsets), "_pid")
             .withColumn(out_col,
                         (F.col("_offset") + F.sum(value_col).over(w))
                         .cast("long"))
             .drop("_pid", "_offset"))

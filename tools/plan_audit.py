#!/usr/bin/env python
"""Physical-plan audit (window by default, --all for every query): one row per
query with the plan features the 100 TB design rules care about —
exchange count, broadcast vs sort-merge joins, whole-stage-codegen
spans, parquet pushdown, and the total number of Union children (so a
loop-built union fan-out shows here, not first in a profile). Writes a
markdown table (default PLANS.md).

``--lint`` additionally FAILS (exit 1) on plan antipatterns:
- a CartesianProduct anywhere (the only sanctioned cross joins ride a
  BroadcastNestedLoopJoin with a 1-row/bounded build side);
- a window over the DATA with an empty partition spec (the
  single-partition cliff) — detected as `windowspecdefinition()` with
  no partition columns in a plan whose input exceeds the bounded-side
  heuristic (we flag every empty-spec window and whitelist the known
  bounded ones by query name).

Usage: python tools/plan_audit.py [sf_dir] [out_md] [--all] [--lint]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hops_spark.registry import load_all
from hops_spark.session import get_spark


# Queries with a single-partition WINDOW over a BOUNDED-BY-CONSTRUCTION
# input (≤ #partitions offset rows via ops/sort._partition_offsets, or
# ≤ top-k rows) — the documented safe cases of the global-window cliff.
_BOUNDED_SINGLE_PARTITION_OK = {
    # _partition_offsets running sum (≤ #partitions rows):
    "total_order_sort", "teragen_sorted", "dictionary_encode",
    "pack_sequences", "equi_depth_bins", "distcp_plan_chunks",
    # same offsets window via total_order_prefix_sum over the
    # distinct-cents histogram (data side is the keyed prefix sum;
    # only the ≤ #partitions offset rows hit the single partition):
    "equidepth_histogram",
    # same total_order_prefix_sum offsets window (≤ #partitions rows;
    # the data side is the range-partitioned per-partition running sum):
    "quality_budget_head",
    "distcp_atomic_plan",   # same distcp_plan total_order_rank offsets
    # total_order_rank offsets over the suffix-sort partitions
    # (<= #partitions rows; the data side is range-partitioned +
    # rank-joined, window-free — ops/dedup.suffix_dup_spans):
    "exact_substring_spans", "span_excised_corpus",
    "vocab_coverage", "rfm_segments",
    # same offsets window via total_order_rank inside
    # ops/bloom.dynamic_bloom_bits (epoch assignment — the data side is
    # window-free; only the ≤ #partitions offset rows hit the window):
    "dynamic_bloom",
    # rank over ≤ top-k rows after a limit:
    "skew_profile",
    # KMV merge window over <= 2k sketch rows (two k=256 sketches —
    # bounded by construction, ops/sketch.kmv_overlap_ppm /
    # kmv_difference_ppm):
    "kmv_audience_overlap", "kmv_audience_difference",
    # windows over a per-stratum aggregate (one row per source — tiny,
    # documented in ops/sampling.mixture_plan):
    "mixture_plan",
    # running check over per-partition stats (≤ #partitions rows,
    # ops/gen.teravalidate):
    "teravalidate",
}


def _nodes(plan: str) -> list[tuple[int, str]]:
    """(column, node text) of each line of a plan's tree string: the text
    starts after the ``:- ``/``+- `` branch markers, with any ``*(n) ``
    codegen-stage prefix dropped."""
    out = []
    for ln in plan.splitlines():
        start = len(ln) - len(ln.lstrip(" :+-|"))
        out.append((start, re.sub(r"^\*\(\d+\) ", "", ln[start:])))
    return out


def union_children(plan: str) -> int:
    """Total children of every Union node in a plan's tree string. A
    node's children are the lines right below it whose node text starts
    3 columns deeper."""
    nodes = _nodes(plan)
    total = 0
    for i, (start, text) in enumerate(nodes):
        if not text.startswith("Union"):
            continue
        for child, _ in nodes[i + 1:]:
            if child <= start:
                break
            total += child == start + 3
    return total


def shuffle_exchanges(plan: str) -> int:
    """Shuffle exchange nodes in a plan's tree string. A reused exchange
    prints as one ``ReusedExchange [...], Exchange ...`` node and runs no
    new shuffle, and a broadcast prints as ``BroadcastExchange``: only
    nodes whose text starts with ``Exchange`` count."""
    return sum(text.startswith("Exchange ") for _, text in _nodes(plan))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_md = args[1] if len(args) > 1 else "PLANS.md"
    lint = "--lint" in sys.argv
    specs = load_all()
    names = list(specs) if "--all" in sys.argv else list(specs)[:50]
    spark = get_spark("plan-audit")

    violations: list[str] = []
    rows = []
    for name in names:
        try:
            df = specs[name].fn(spark, sf_dir)
            # Execute first: codegen spans and AQE's final exchange
            # placement only exist in the final adaptive plan, and
            # cached contractually-small intermediates show up as
            # InMemoryTableScan instead of their full lineage.
            df.collect()   # window outputs are small by design
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            # finalized AQE toString prints Final AND Initial sections;
            # audit only the final one
            plan = plan.split("== Initial Plan ==")[0]
            fmt = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        except Exception as e:  # noqa: BLE001
            rows.append((name, f"ERROR: {e}", "", "", "", "", "", ""))
            if lint:
                violations.append(f"{name}: ERROR {e}")
            continue
        if lint:
            if "CartesianProduct" in plan:
                violations.append(f"{name}: CartesianProduct in plan")
            # single-partition WINDOW (the cliff): a Window node whose
            # child subtree starts with Exchange SinglePartition. Final
            # global aggregates also use SinglePartition exchanges but
            # over partial-agg rows — those are fine and not flagged.
            lines = plan.splitlines()
            for i, ln in enumerate(lines):
                if "Exchange SinglePartition" not in ln:
                    continue
                above = " ".join(lines[max(0, i - 3):i])
                if "Window" in above \
                        and name not in _BOUNDED_SINGLE_PARTITION_OK:
                    violations.append(
                        f"{name}: Window over Exchange SinglePartition "
                        "(whitelist only with a boundedness proof)")
                    break
        rows.append((
            name,
            shuffle_exchanges(plan),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            # Spark 4 marks codegen stages as "*(n)" in toString
            len(set(re.findall(r"\*\((\d+)\)", plan))),
            "yes" if "PushedFilters: [" in fmt
                     and "PushedFilters: []" not in fmt else "-",
            "yes" if "PythonUDF" in plan or "MapInPandas" in plan
                     or "ArrowEval" in plan else "-",
            union_children(plan),
        ))

    scope = (f"all {len(names)} registered queries"
             if "--all" in sys.argv else "driver-window queries")
    with open(out_md, "w") as f:
        f.write(f"# Physical-plan audit ({scope}, "
                f"{sf_dir})\n\n")
        f.write("Generated by `tools/plan_audit.py`. Shuffle exchanges "
                "EXCLUDE broadcasts; codegen = distinct whole-stage "
                "spans; pushdown = non-empty parquet PushedFilters; "
                "python = Arrow-batched pandas stage present (never "
                "row-at-a-time); unions = total children of all Union "
                "nodes. Queries are EXECUTED first, so counts are "
                "the final adaptive (AQE) plan, with cached "
                "contractually-small intermediates appearing as "
                "in-memory scans rather than their full lineage.\n\n")
        f.write("| query | shuffle exchanges | broadcast joins | "
                "sort-merge joins | codegen spans | pushdown | python | "
                "unions |\n")
        f.write("|---|---|---|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote {out_md} ({len(rows)} queries)")
    if lint:
        if violations:
            for v in violations:
                print(f"LINT FAIL {v}")
            raise SystemExit(1)
        print(f"lint: {len(rows)} plans clean")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Dump ``explain('formatted')`` for named queries to plans/<tag>/, and
optionally time them with the noop sink (guide §1.4: the computation,
not the sink, is what gets timed).

Usage:
    python tools/plan_dump.py <tag> <suffix> [--time N] query [query ...]

Writes plans/<tag>/<query>_<suffix>.txt per query. With ``--time N``
each query is also run N times via the noop sink and the per-run
seconds are printed (first line per query) — the same action bench.py
times, so the numbers compare directly.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hops_spark.io.readers import load_table
from hops_spark.registry import load_all
from hops_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    tag, suffix = args[0], args[1]
    names = args[2:]
    runs = 0
    for a in sys.argv[1:]:
        if a.startswith("--time"):
            runs = int(a.split("=", 1)[1]) if "=" in a else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    specs = load_all()
    spark = get_spark("plan-dump")
    # warm the JVM/Arrow pool the same way bench.py does
    load_table(spark, sf_dir, "region").count()
    spark.range(32).mapInPandas(lambda it: it, "id long") \
         .write.format("noop").mode("overwrite").save()
    for name in names:
        spark.sparkContext.setJobDescription(f"plan_dump:{name}")
        df = specs[name].fn(spark, sf_dir)
        fmt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(fmt)
        times = []
        for _ in range(runs):
            t0 = time.time()
            df2 = specs[name].fn(spark, sf_dir)
            df2.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        print(f"{name}: {times} -> {path}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()

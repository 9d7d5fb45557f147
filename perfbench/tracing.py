"""The traced half of a ``--trace 1`` run and its per-layer metrics.

After the untraced passes that the end-to-end metrics are measured on, a
traced run restarts the SparkContext with the event log on and measures one
pass, then one more pass with it off. The traced pass time minus the mean
of the untraced passes just before and just after it is the tracing
overhead; bracketing the traced pass cancels most of the JVM's continued
warming. Spans recorded around each public call are joined with the event
log by Spark job group. Per-pass figures divide the traced totals by the
number of traced passes.

After its traced pass, a ``dataflow`` run also times the catalog ops
(``MetadataWorkload``, ten passes: 100 reads and 20 subtree writes) and an
``llm_ops`` run the two pipeline CLIs.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict

import eventlog
from fixtures import BENCH_SOURCE
from harness import log, measure, median, pass_seconds, tail
from workloads import (CATALOG_MIX, DATAFLOW_KEYS, LLM_KEYS, WRITE_OPS,
                       MetadataWorkload, run_pipeline)

TRACED_REP0 = 1000    # rep numbers of the traced passes start here

PER_LAYER = {
    "session.start_s": "s", "session.restart_s": "s", "session.warmup_s": "s",
    "pass.wall_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "driver.action_s": "s", "driver.gap_s": "s", "driver.gap_share": "ratio",
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.task_skew": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "B",
    "io.input_bytes": "B", "io.output_bytes": "B",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "python.run_ms": "ms",
    **{f"catalog.{op}_ms": "ms" for op in CATALOG_MIX},
    "catalog.jobs_per_op": "count", "catalog.read_p90_ms": "ms",
    "pipeline.clean_s": "s", "pipeline.shards_s": "s",
    "pipeline.input_docs": "count", "pipeline.after_near_dedup": "count",
    "pipeline.after_decontaminate": "count", "pipeline.shard_docs": "count",
    "tracing.overhead_s": "s", "tracing.overhead_share": "ratio",
    "memory.peak_rss_mb": "MB", "memory.heap_retained_mb": "MB",
    **{f"query.{k}.{m}": u for k in LLM_KEYS
       for m, u in (("build_s", "s"), ("jobs", "count"))},
    **{f"query.{k}.action_s": "s" for k in DATAFLOW_KEYS},
}

_COUNTER_METRICS = {
    "exec.run_ms": "run_ms", "exec.cpu_ms": "cpu_ms", "exec.gc_ms": "gc_ms",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_ms": "fetch_wait_ms", "spill.bytes": "spill_bytes",
    "io.input_bytes": "input_bytes", "io.output_bytes": "output_bytes",
    "python.bytes_sent": "python_bytes_sent",
    "python.bytes_returned": "python_bytes_returned",
    "python.run_ms": "python_run_ms"}


def _session(cluster, wl, sf_dir, event_log_dir=None):
    cluster.stop()
    t0 = time.time()
    spark = cluster.start(event_log_dir=event_log_dir)
    restart_s = time.time() - t0
    wl.prepare(spark, sf_dir)
    # start the new context's Python workers outside any measured window
    spark.range(8).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()
    return spark, restart_s


def traced_phase(wl, cluster, tables, sf_dir, out, seed) -> dict:
    """A traced pass, one more untraced pass (so the untraced passes
    bracket the traced one as the JVM keeps warming), then the side
    calls in a second traced session."""
    logs = {k: os.path.join(out, "eventlog", k) for k in ("passes", "side")}
    spans: list = []
    _, restart_s = _session(cluster, wl, sf_dir, logs["passes"])
    traced = measure(wl, 0, spans, TRACED_REP0, 1)
    _session(cluster, wl, sf_dir)
    after = measure(wl, 0, [], 2 * TRACED_REP0, 1)
    ctx = {"traced_passes": traced, "untraced_after": after, "spans": spans,
           "restart_s": restart_s, "logs": logs,
           "traced_ops": [op for p in traced + after for op in p]}
    spark, _ = _session(cluster, wl, sf_dir, logs["side"])
    if wl.name == "dataflow":
        cat = MetadataWorkload(seed)
        cat.prepare(spark, sf_dir, tables)
        cat.run_pass(-1, [], check=False)      # untimed warm-up
        ops = [op for p in measure(cat, 0, spans, TRACED_REP0) for op in p]
        log(f"catalog: {len(ops)} ops")
        ctx["catalog_ops"] = ops
    else:
        counts, ops = run_pipeline(spark, sf_dir, os.path.join(out, "pipeline"),
                                   spans, BENCH_SOURCE)
        log("pipeline survivors: " + json.dumps(counts))
        ctx.update(pipeline_counts=counts, pipeline_ops=ops)
    ctx["traced_ops"] += ops
    cluster.stop()          # flushes and closes the event logs
    return ctx


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(workload: str, ctx: dict, out: str) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    traced = ctx["traced_passes"]
    n = len(traced)
    fold = eventlog.fold(eventlog.read_events(ctx["logs"]["passes"]))
    side = eventlog.fold(eventlog.read_events(ctx["logs"]["side"]))
    jobs = fold.select(f"{workload}:")
    m["session.start_s"], m["session.warmup_s"] = ctx["setup"]
    m["session.restart_s"] = ctx["restart_s"]
    m["pass.wall_s"] = pass_seconds(ctx["passes"])
    m["memory.peak_rss_mb"] = ctx["peak_rss"] / 2**20
    m["memory.heap_retained_mb"] = ctx["heap"] / 2**20

    # driver: jobs, stages, tasks, and the share of the traced passes'
    # wall time with no job running
    spans = [s for s in ctx["spans"] if s.parent.startswith(f"{workload}:")]
    lo = int(min(s.start for s in spans) * 1000)
    hi = int(max(s.end for s in spans) * 1000)
    busy = eventlog.busy_ms(jobs, lo, hi)
    m["driver.jobs"] = _per(len(jobs), n)
    ran = {s for j in jobs for s in j.stages if s in fold.stage_task_ms}
    m["driver.stages"] = _per(len(ran), n)
    m["driver.tasks"] = _per(sum(j.counters["tasks"] for j in jobs), n)
    m["driver.gap_s"] = _per((hi - lo - busy) / 1000, n)
    m["driver.gap_share"] = 1 - busy / (hi - lo) if hi > lo else 0.0
    for name, key in _COUNTER_METRICS.items():
        m[name] = _per(sum(j.counters[key] for j in jobs), n)
    m["exec.task_skew"] = eventlog.task_skew(fold, jobs)

    # query build (the fn call, eager jobs included) and action
    build_end = {s.parent: s.end * 1000 for s in spans
                 if s.name.startswith("build:")}
    ops = [op for p in traced for op in p]
    m["queries.build_s"] = _per(sum(op.build_s for op in ops), n)
    m["queries.build_jobs"] = _per(
        sum(j.start_ms <= build_end.get(j.group, -1) for j in jobs), n)
    m["driver.action_s"] = _per(sum(op.seconds - op.build_s for op in ops), n)
    for key in {op.name for op in ops}:
        mine = [op for op in ops if op.name == key]
        if key in LLM_KEYS:
            groups = {op.group for op in mine}
            m[f"query.{key}.build_s"] = median([op.build_s for op in mine])
            m[f"query.{key}.jobs"] = _per(
                sum(j.group in groups for j in jobs), len(mine))
        else:
            m[f"query.{key}.action_s"] = median(
                [op.seconds - op.build_s for op in mine])

    if "catalog_ops" in ctx:
        cat = ctx["catalog_ops"]
        for op in CATALOG_MIX:
            m[f"catalog.{op}_ms"] = 1000 * median(
                [o.seconds for o in cat if o.name == op])
        q, v, n_r = tail([o.seconds for o in cat
                          if o.name not in WRITE_OPS], 0.90)
        m["catalog.read_p90_ms"] = 1000 * v
        m["catalog.jobs_per_op"] = _per(len(side.select("metadata:")),
                                        len(cat))
        print(f"catalog read tail: p{100 * q:g} of {n_r} samples")

    if "pipeline_counts" in ctx:
        c = ctx["pipeline_counts"]
        p_ops = {op.name: op.seconds for op in ctx["pipeline_ops"]}
        m["pipeline.clean_s"] = p_ops["clean_corpus"]
        m["pipeline.shards_s"] = p_ops["make_training_shards"]
        m["pipeline.input_docs"] = c["input"]
        m["pipeline.after_near_dedup"] = c["after_near_dedup"]
        m["pipeline.after_decontaminate"] = c["after_decontaminate"]
        m["pipeline.shard_docs"] = c["shard_docs"]
        print("pipeline survivors: " + json.dumps(c))

    base = (pass_seconds(ctx["passes"][-1:])
            + pass_seconds(ctx["untraced_after"])) / 2
    m["tracing.overhead_s"] = pass_seconds(traced) - base
    m["tracing.overhead_share"] = m["tracing.overhead_s"] / base
    print(f"{workload}: no job running for {100 * m['driver.gap_share']:.1f}% "
          f"of {(hi - lo) / 1000:.2f} s of traced passes ({len(jobs)} jobs)")

    with open(os.path.join(out, "spans.json"), "w", encoding="utf-8") as f:
        json.dump([asdict(s) for s in ctx["spans"]], f)
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in m.items()}

"""hops-spark benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload dataflow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
into ``.perfbench_out/`` (as are Spark's scratch files and event logs), the
program is driven through its public functions on ``local[<cores>]``, and
every output is checked. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Progress goes to standard error.

``setup_s`` is the run's one set-up: a new JVM and session, the workload's
preparation and a cold warm-up pass. Several set-ups a run would cost more
than the rest of the run, so the spread of ``setup_s`` is across runs. The
inputs and the oracle results are made before it and are not part of it.
``pass_cpu_s`` is the CPU time the program's processes -- this driver
process, the JVM less its JIT compiler threads, and the Python workers --
spend in the operations of one measured pass, the mean over the passes
(``harness.PASSES``). It is CPU time and not wall time because on a shared
host the hypervisor's steal stretches wall time several times over: on a
4-vCPU VM, llm_ops passes at 9-10% steal took about 45% longer than at
under 1%. Steal is not charged as CPU time; the CPU time of a pass still
rises with host load, but about half as much. The wall time of a pass is
the per-layer ``pass.wall_s``.

Workloads (see ``workloads.py``): ``dataflow``, SQL-only registered queries
(TPC-H shapes, MapReduce-style keys), and ``llm_ops``, the heavy similarity,
dedup and tokenizer queries. A traced run of ``dataflow`` also times the
catalog ops; one of ``llm_ops`` also runs the two pipeline CLIs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}


def _env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import tempfile
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dataflow", "llm_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hops_spark")):
        print(f"no hops_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    shutil.rmtree(OUT, ignore_errors=True)
    _env()

    import fixtures
    import workloads
    from harness import (Cluster, RssSampler, host_cores, log,
                         measure, pass_cpu_seconds, retained_heap_bytes,
                         steal_share)

    wl = workloads.QueryWorkload(args.workload, args.seed)
    cluster = Cluster(OUT, host_cores())
    sf_dir = os.path.join(OUT, "data")
    tables = fixtures.write_tables(args.seed, sf_dir)
    wl.compute_oracles(sf_dir)
    log("inputs and oracle results made")
    try:
        # set-up: a new JVM and session, the workload's preparation and
        # one cold warm-up pass (not a measured pass)
        t0 = time.time()
        spark = cluster.start()
        t1 = time.time()
        wl.prepare(spark, sf_dir)
        warm = wl.run_pass(-1, [], check=False)
        setup = (t1 - t0, time.time() - t1)
        log(f"set-up: session {setup[0]:.2f}s, prepare and warm-up "
            f"{setup[1]:.2f}s (" + " ".join(f"{op.name}={op.seconds:.2f}"
                                              for op in warm) + ")")
        stolen = steal_share()
        with RssSampler() as rss:
            passes = measure(wl, args.seconds, [], 0)
        stolen = [b - a for a, b in zip(stolen, steal_share())]
        log(f"host steal while measuring: "
            f"{100 * stolen[0] / max(stolen[1], 1):.1f}%")
        ctx = {"setup": setup, "passes": passes, "peak_rss": rss.peak,
               "heap": retained_heap_bytes(spark)}
        if args.trace:
            import tracing
            ctx.update(tracing.traced_phase(wl, cluster, tables, sf_dir,
                                            OUT, args.seed))
    finally:
        cluster.shutdown()
        log("stopped")

    ops = [op for p in ctx["passes"] for op in p] + ctx.get("traced_ops", [])
    failed = sum(not op.ok for op in ops)
    if args.trace:
        metrics = tracing.per_layer(args.workload, ctx, OUT)
    else:
        values = {
            "setup_s": sum(setup),
            "pass_cpu_s": pass_cpu_seconds(passes),
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())

"""The benchmark's workloads. Each is one closed-loop client: a single driver
thread issues the next call only after the previous one has returned.

A workload is prepared once per session (``prepare``), then runs passes.
A pass is a fixed multiset of operations in a seeded order; every operation
is timed and its output checked outside the timed region.

- ``dataflow``: SQL-only registered queries (TPC-H joins and aggregates,
  wordcount, secondary sort, session windows, a sorted generator). Scans,
  shuffles and joins run on the executors with no Python workers and no
  eager cuts: the control for driver-side changes.
- ``llm_ops``: ``semantic_dedup`` (the pair stage inside centroid cells),
  ``soft_dedup_weights`` (MinHash pairs and the connected-components
  fixpoint, with eager cuts) and ``tokenizer_compression`` (an Arrow
  ``mapInPandas`` stage). Build time and job count dominate; this is where
  materialization, driver-gap and pair-pruning changes act.
- ``metadata`` (``MetadataWorkload``): HopsFS-style catalog reads and
  subtree writes. Every op is tiny, so fixed per-op driver cost is its
  whole latency. It runs inside a traced ``dataflow`` run.
"""

from __future__ import annotations

import os
import random
import re
import sys
import time
import traceback
from dataclasses import dataclass

from fixtures import N_SOURCES
from harness import Span, arrow_result_key, result_key, tree_cpu_seconds

DATAFLOW_KEYS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q21_sole_returner", "wordcount", "secondary_sort", "session_window_agg",
    "teragen_sorted")
LLM_KEYS = ("semantic_dedup", "tokenizer_compression", "soft_dedup_weights")
# catalog op -> times per pass: ten reads a pass, so that the ten passes
# of a traced run give the read p90 ten samples beyond it
CATALOG_MIX = {"fileStatus": 3, "listing": 2, "batchedLookup": 1, "glob": 2,
               "contentSummary": 1, "quotaSnapshot": 1, "subtreeDelete": 1,
               "subtreeRename": 1}
WRITE_OPS = ("subtreeDelete", "subtreeRename")
SUBDIRS = 5          # files of a source are spread over this many subdirs
ZIPF_S = 1.1


@dataclass
class Op:
    name: str          # query key or catalog op
    group: str         # Spark job group of its jobs
    seconds: float
    ok: bool
    build_s: float = 0.0
    cpu_s: float = 0.0   # CPU time of the program's processes in the op


def _job_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


class QueryWorkload:
    """Registered queries (``QuerySpec.fn`` + an Arrow collect of the result),
    checked against each query's DuckDB oracle SQL."""

    def __init__(self, name: str, seed: int):
        from hops_spark.registry import load_all
        specs = load_all()
        keys = {"dataflow": DATAFLOW_KEYS, "llm_ops": LLM_KEYS}[name]
        self.name = name
        self.specs = {k: specs[k] for k in keys}
        self.seed = seed
        self.expected: dict = {}
        self.pid = os.getpid()

    def prepare(self, spark, sf_dir: str) -> None:
        self.spark, self.sf_dir = spark, sf_dir

    def compute_oracles(self, sf_dir: str) -> None:
        """Each query's expected result, from its DuckDB oracle SQL."""
        import duckdb
        from hops_spark.io.readers import TABLES
        con = duckdb.connect()
        if self.name == "llm_ops":
            # optimizing these long statements takes longer than running
            # them; the results are the same either way
            con.sql("PRAGMA disable_optimizer")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for key, spec in self.specs.items():
            rel = con.sql(spec.sql)
            cols = [c[0] for c in rel.description]
            self.expected[key] = result_key(cols, rel.fetchall())
        con.close()

    def run_pass(self, rep: int, spans: list, check: bool = True) -> list[Op]:
        order = sorted(self.specs)
        random.Random(self.seed * 7919 + rep).shuffle(order)
        ops = []
        for key in order:
            group = f"{self.name}:{key}#{rep}"
            _job_group(self.spark, group)
            try:
                c0, t0 = tree_cpu_seconds(self.pid), time.time()
                df = self.specs[key].fn(self.spark, self.sf_dir)
                t1 = time.time()
                table = df.toArrow()
                t2, c2 = time.time(), tree_cpu_seconds(self.pid)
            except Exception:  # noqa: BLE001 - a failed query is counted
                traceback.print_exc(file=sys.stderr)
                ops.append(Op(key, group, 0.0, False))
                continue
            finally:
                _job_group(self.spark, None)
            spans += [Span(f"build:{key}", t0, t1, group),
                      Span(f"action:{key}", t1, t2, group)]
            ok = not check or arrow_result_key(table) == self.expected[key]
            if not ok:
                print(f"wrong result: {key}", file=sys.stderr)
            ops.append(Op(key, group, t2 - t0, ok, t1 - t0, c2 - c0))
        return ops


class MetadataWorkload:
    """HopsFS-style catalog ops over an inode table derived from the
    documents table (``catalog.metastore``); subtree writes fold their
    metadata log into the quota state (``catalog.cdc.QuotaState``)."""

    name = "metadata"

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark, sf_dir: str, tables) -> None:
        from pyspark.sql import functions as F

        from hops_spark.catalog import cdc
        from hops_spark.catalog import metastore as ms
        self.spark = spark
        base = ms.inodes_from_documents(spark, sf_dir)
        sub = F.floor(F.col("inode_id") / N_SOURCES) % SUBDIRS
        nested = base.withColumn("parent", F.concat(
            "parent", F.lit("/d"), sub.cast("string")))
        self.inodes = ms.with_partition_id(nested).cache()
        self.inodes.count()   # catalog state is resident, as in a NameNode
        # Python model of the same tree: parent -> file names
        docs = tables["documents"]
        self.files: dict[str, list[str]] = {}
        for doc_id, source in zip(docs.column("doc_id").to_pylist(),
                                  docs.column("source").to_pylist()):
            sub = doc_id // N_SOURCES % SUBDIRS
            self.files.setdefault(f"{source}/d{sub}", []).append(
                f"doc_{doc_id}")
        self.n_inodes = sum(len(v) for v in self.files.values())
        self.dirs = sorted(self.files)
        self.hot_dirs = self.dirs[:]                 # Zipf rank, per seed
        random.Random(self.seed).shuffle(self.hot_dirs)
        self.hot_weights = [1 / (r + 1) ** ZIPF_S
                            for r in range(len(self.hot_dirs))]
        self.quota = cdc.QuotaState(spark)
        add_log = self.inodes.select(
            F.lit(0).cast("long").alias("tx_id"), "inode_id", "parent",
            F.lit("ADD").alias("op"), F.col("size").alias("size_delta"),
            F.current_timestamp().alias("ts"))
        self.quota.apply_batch(add_log)
        self.quota_parents = set(self.files)

    def _members(self, root: str) -> int:
        return sum(len(v) for p, v in self.files.items()
                   if p == root or p.startswith(root + "/"))

    def _plan(self, rng: random.Random, op: str):
        """(callable returning a row count, expected row count)."""
        from hops_spark.catalog import metastore as ms
        d = rng.choices(self.hot_dirs, self.hot_weights)[0]
        root = d.split("/")[0]
        inodes = self.inodes
        if op == "fileStatus":
            name = rng.choice(self.files[d])
            return lambda: ms.file_info(inodes, d, name).count(), 1
        if op == "listing":
            return (lambda: ms.listing(inodes, d).count(),
                    min(len(self.files[d]), 1000))
        if op == "batchedLookup":
            keys = [(p, rng.choice(self.files[p]))
                    for p in rng.sample(self.dirs, 48)]
            keys += [(p, "missing") for p in rng.sample(self.dirs, 16)]
            kdf = self.spark.createDataFrame(keys, "parent string, name string")
            return lambda: ms.batched_lookup(inodes, kdf).count(), 48
        if op == "glob":
            pattern = f"doc_{rng.randint(1, 9)}{rng.randint(0, 9)}*"
            rx = re.compile("^" + pattern.replace("*", ".*") + "$")
            n = sum(1 for v in self.files.values() for f in v if rx.match(f))
            return lambda: ms.glob_status(inodes, pattern).count(), n
        if op == "contentSummary":
            return lambda: ms.content_summary(inodes).count(), len(self.files)
        if op == "quotaSnapshot":
            return (lambda: self.quota.snapshot().count(),
                    len(self.quota_parents))
        if op == "subtreeDelete":
            def delete():
                post, log = ms.subtree_delete(inodes, root, batch=100)
                self.quota.apply_batch(log)
                return post.count()
            return delete, self.n_inodes - self._members(root)
        if op == "subtreeRename":
            dst = f"archive/{root}"

            def rename():
                post, log = ms.subtree_rename(inodes, root, dst, batch=100)
                self.quota.apply_batch(log)
                return post.count()
            self.quota_parents |= {dst + p[len(root):] for p in self.files
                                   if p == root or p.startswith(root + "/")}
            return rename, self.n_inodes
        raise ValueError(op)

    def run_pass(self, rep: int, spans: list, check: bool = True) -> list[Op]:
        rng = random.Random(self.seed * 7919 + rep)
        order = [op for op, k in sorted(CATALOG_MIX.items()) for _ in range(k)]
        rng.shuffle(order)
        ops = []
        for i, op in enumerate(order):
            group = f"{self.name}:{op}#{rep}.{i}"
            call, want = self._plan(rng, op)
            _job_group(self.spark, group)
            try:
                t0 = time.time()
                got = call()
                t1 = time.time()
            except Exception:  # noqa: BLE001 - a failed op is counted
                traceback.print_exc(file=sys.stderr)
                ops.append(Op(op, group, 0.0, False))
                continue
            finally:
                _job_group(self.spark, None)
            spans.append(Span(f"op:{op}", t0, t1, group))
            ok = not check or got == want
            if not ok:
                print(f"wrong result: {op} {got} != {want}", file=sys.stderr)
            ops.append(Op(op, group, t1 - t0, ok))
        return ops


def run_pipeline(spark, sf_dir: str, out_dir: str, spans: list,
                 bench_source: str) -> tuple[dict, list[Op]]:
    """``clean_corpus()`` then ``make_training_shards()``: per-stage
    survivor counts, each call timed and checked for consistency."""
    from clean_corpus import clean_corpus
    from make_training_shards import make_training_shards

    _job_group(spark, "pipeline:clean_corpus#0")
    t0 = time.time()
    clean = clean_corpus(spark, sf_dir, os.path.join(out_dir, "corpus"),
                         bench_source=bench_source)
    t1 = time.time()
    _job_group(spark, "pipeline:make_training_shards#0")
    shards = make_training_shards(spark, os.path.join(out_dir, "corpus",
                                                      "clean"),
                                  os.path.join(out_dir, "shards"))
    t2 = time.time()
    _job_group(spark, None)
    spans += [Span("pipeline:clean_corpus", t0, t1, "pipeline"),
              Span("pipeline:make_training_shards", t1, t2, "pipeline")]
    stages = list(clean.values())
    ok_clean = (all(a >= b for a, b in zip(stages, stages[1:]))
                and clean["written"] == clean["after_perplexity"])
    rows = sum(s["rows"] for s in shards["shards"].values())
    ok_shards = (shards["input_docs"] == clean["written"]
                 and rows == shards["chunks"])
    ops = [Op("clean_corpus", "pipeline:clean_corpus#0", t1 - t0, ok_clean),
           Op("make_training_shards", "pipeline:make_training_shards#0",
              t2 - t1, ok_shards)]
    return dict(clean, shard_docs=shards["input_docs"]), ops

"""connected_components (ops/graph.py): fixpoint correctness against a
driver-side union-find on deterministic and randomized graphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hops_spark.ops.graph import connected_components, dedup_cluster_labels


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label per component
    return {v: min(u for u in range(n_nodes) if find(u) == find(v))
            for v in {x for e in edges for x in e}}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df)
    return {int(r["node"]): int(r["component"]) for r in got.collect()}


def test_chain_converges_to_min(spark):
    # worst case for naive label propagation: a 40-node chain
    edges = [(i, i + 1) for i in range(40)]
    assert _cc(spark, edges) == {i: 0 for i in range(41)}


def test_two_components_and_star(spark):
    edges = [(5, 9), (9, 7), (20, 30), (30, 25), (25, 21)]
    got = _cc(spark, edges)
    assert got == {5: 5, 9: 5, 7: 5, 20: 20, 30: 20, 25: 20, 21: 20}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        edges = [(a, b) for a, b in edges if a != b]
        expect = _union_find(n, edges)
        assert _cc(spark, edges) == expect, f"trial {trial}"


def test_cluster_labels_singletons_kept(spark):
    ids = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 4), (4, 8)], "id_a long, id_b long")
    got = {int(r["doc_id"]): (int(r["cluster_id"]), bool(r["is_kept"]))
           for r in dedup_cluster_labels(ids, pairs).collect()}
    for d in range(10):
        if d in (4, 8):
            assert got[d] == (1, False)
        else:
            assert got[d] == (d, True)


def test_max_iter_guard(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_iter=0)


def test_duplicate_reversed_and_self_loop_edges_match_union_find(spark):
    # Self-loops are dropped, so a node with only a self-loop is
    # isolated and gets no row; duplicate and reversed edges change
    # nothing.
    rng = random.Random(5)
    for trial in range(3):
        n = 40
        base = [(rng.randrange(n), rng.randrange(n)) for _ in range(30)]
        edges = (base + [(b, a) for a, b in base[::2]] + base[:7]
                 + [(v, v) for v in rng.sample(range(n), 6)])
        rng.shuffle(edges)
        expect = _union_find(n, [(a, b) for a, b in edges if a != b])
        assert _cc(spark, edges) == expect, f"trial {trial}"


def test_empty_and_self_loop_only_inputs(spark):
    assert _cc(spark, []) == {}
    assert _cc(spark, [(3, 3), (7, 7)]) == {}
    df = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    assert connected_components(df.filter(F.col("src") > 9)).collect() == []


def test_star_forest_input_needs_no_round(spark):
    """A min-rooted star forest (edges given in both orientations) is
    recognised before the first large/small-star round, so max_iter=0
    returns its labels (a chain still raises, see test_max_iter_guard)."""
    edges = [(0, 4), (9, 0), (0, 2), (1, 3), (5, 1), (6, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {int(r["node"]): int(r["component"])
           for r in connected_components(df, max_iter=0).collect()}
    assert got == _union_find(10, edges)


def test_disjoint_pairs_run_at_most_two_jobs(spark):
    """25 disjoint pairs are a star forest: the call runs only the
    round-0 checkpoint (no probe job, no confirmation round)."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(2 * i, 2 * i + 1) for i in range(25)],
                               "src long, dst long").localCheckpoint(eager=True)
    sc.setJobGroup("cc-pairs", "connected components job-count test")
    try:
        out = connected_components(df)
        jobs = list(sc.statusTracker().getJobIdsForGroup("cc-pairs"))
    finally:
        sc.setJobGroup("", "")
    assert 1 <= len(jobs) <= 2, jobs
    assert {int(r["node"]): int(r["component"]) for r in out.collect()} \
        == {v: v - v % 2 for v in range(50)}


def test_round_descriptions_and_caller_description_restored(spark):
    """Each round's checkpoint runs as connected_components:round<i>;
    the caller's job description is back afterwards, also after the
    max_iter guard raises."""
    sc = spark.sparkContext
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                  "src long, dst long")
    sc.setJobGroup("cc-desc", "caller description")
    try:
        connected_components(chain)
        assert sc.getLocalProperty("spark.job.description") \
            == "caller description"
        with pytest.raises(RuntimeError):
            connected_components(chain, max_iter=0)
        assert sc.getLocalProperty("spark.job.description") \
            == "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == "cc-desc"
        jobs = sorted(sc.statusTracker().getJobIdsForGroup("cc-desc"))
    finally:
        sc.setJobGroup("", "")
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description() for j in jobs]
    descs = [d.get() if d.isDefined() else None for d in descs]
    assert descs and all(d.startswith("connected_components:round")
                         for d in descs), descs
    assert "connected_components:round2" in descs


def test_duplicate_spans_merges_runs(spark):
    from hops_spark.ops.dedup import duplicate_spans
    # docs 0 and 1 share a 10-token run -> one maximal span each (k=8
    # gives 3 consecutive duplicated gram starts); doc 2 is unrelated.
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, shared + " tailzero onlyzero"),
            (1, "headone " + shared),
            (2, "totally different words with no overlap at all here ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(int(r["doc_id"])): (int(r["span_start"]), int(r["span_end"]),
                                int(r["span_tokens"]))
           for r in duplicate_spans(df, k=8).collect()}
    assert got[0] == (0, 9, 10)
    assert got[1] == (1, 10, 10)
    assert 2 not in got


def test_duplicate_spans_property_vs_bruteforce(spark):
    """Randomized cross-check: spans == maximal runs of duplicated
    k-grams computed by a driver-side brute force."""
    from collections import Counter

    from hops_spark.ops.dedup import duplicate_spans

    rng = random.Random(11)
    k = 3
    vocab = ["a", "b", "c", "d", "e"]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
            for i in range(12)]

    counts = Counter()
    grams = {}
    for did, text in docs:
        ws = text.split()
        gs = [tuple(ws[p:p + k]) for p in range(len(ws) - k + 1)]
        grams[did] = gs
        counts.update(gs)
    expect = set()
    for did, gs in grams.items():
        dup_pos = [p for p, g in enumerate(gs) if counts[g] >= 2]
        run = []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                expect.add((did, run[0], run[-1] + k - 1,
                            run[-1] + k - 1 - run[0] + 1))
                run = []
            if p is not None:
                run.append(p)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(int(r["doc_id"]), int(r["span_start"]), int(r["span_end"]),
            int(r["span_tokens"]))
           for r in duplicate_spans(df, k=k).collect()}
    assert got == expect


def test_cc_large_random_graph(spark):
    # bigger stress: 300 nodes, 260 edges -> many interleaved components
    rng = random.Random(99)
    n = 300
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(260)})
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, edges) == _union_find(n, edges)


def test_triangle_rows_matches_bruteforce(spark):
    """Degree-oriented closure must count each triangle exactly once —
    checked against itertools brute force on a random-ish graph with
    hubs (the orientation's interesting regime)."""
    from itertools import combinations

    from hops_spark.ops.graph import triangle_rows

    # deterministic pseudo-random graph: 30 nodes, hub 0 connected to
    # everyone, plus md5-derived sparse edges
    import hashlib
    nodes = list(range(30))
    edges = {(0, i) for i in range(1, 30)}
    for a, b in combinations(range(1, 30), 2):
        if int(hashlib.md5(f"{a}-{b}".encode()).hexdigest()[:4], 16) % 5 == 0:
            edges.add((a, b))
    want = {tuple(sorted(t)) for t in combinations(nodes, 3)
            if all(tuple(sorted(p)) in edges for p in combinations(t, 2))}
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])
    got = {tuple(sorted((r["u"], r["v"], r["w"])))
           for r in triangle_rows(edf).collect()}
    rows = triangle_rows(edf).collect()
    assert len(rows) == len(got), "a triangle was emitted twice"
    assert got == want


def test_kcore_chain_peels_clique_survives(spark):
    """3-core of (K5 clique + a 20-node chain hanging off it): the
    chain peels away over MULTIPLE rounds (each round only exposes the
    next chain node — the iterative regime the fixture graph can't
    exercise), the clique survives exactly, each member at degree 4."""
    from hops_spark.ops.graph import kcore
    from itertools import combinations
    clique = list(combinations(range(5), 2))
    chain = [(4, 100)] + [(100 + i, 101 + i) for i in range(19)]
    edf = spark.createDataFrame(clique + chain, ["src", "dst"])
    got = {r["node"]: r["core_deg"] for r in kcore(edf, 3).collect()}
    assert got == {i: 4 for i in range(5)}


def test_kcore_empty_and_bad_k(spark):
    from hops_spark.ops.graph import kcore
    edf = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    assert kcore(edf, 3).count() == 0        # a path has no 3-core
    import pytest as _pytest
    with _pytest.raises(ValueError):
        kcore(edf, 0)

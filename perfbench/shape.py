"""Shape of a set of input tables: the figures that decide how much work the
``llm_ops`` queries do, computed with DuckDB from the queries' own oracle
SQL, so no Spark session is needed.

    python3 perfbench/shape.py --seed 1 --seed 2 [DIR ...]

prints the figures of the generated tables of each seed next to those of
each DIR of parquet tables (for example the repository's sf0.01 test
fixture), one column each. ``fixtures.REFERENCE`` holds the figures of that
fixture, and the self-tests hold the generator to them.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MAX_CELL = 10000     # semantic_dedup's cell cap, as in its oracle SQL


def _connect(sf_dir: str):
    import duckdb
    from hops_spark.io.readers import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def shape(sf_dir: str) -> dict[str, float]:
    """The figures of the tables in ``sf_dir``."""
    from hops_spark.queries.similarity import SD_THRESHOLD
    from hops_spark.registry import load_all
    specs = load_all()
    con = _connect(sf_dir)
    s: dict[str, float] = {}

    texts = [t for (t,) in con.sql("SELECT text FROM documents").fetchall()]
    words = [len(t.split()) for t in texts]
    s["documents"] = len(texts)
    s["dup_documents"] = sum(t.endswith(" dup") for t in texts)
    s["words_p50"] = float(np.median(words))
    s["vocabulary"] = len({w for t in texts for w in t.split()})

    # MinHash/LSH near-duplicates (soft_dedup_weights, pipeline)
    head = specs["minhash_dedup_pairs"].sql.rsplit("SELECT", 1)[0]
    s["minhash_candidates"], s["minhash_verified"] = con.sql(
        head + "SELECT (SELECT count(*) FROM cand), "
               "(SELECT count(*) FROM verified)").fetchone()
    sizes = Counter(n for (_, _, n, _) in
                    con.sql(specs["soft_dedup_weights"].sql).fetchall())
    s["near_dup_clusters"] = sum(c / n for n, c in sizes.items() if n > 1)
    s["largest_cluster"] = max(sizes)

    # semantic_dedup: centroid cells, within-cell pairs, verified pairs
    cells: dict[int, list[int]] = {}
    kept = 0
    for vec_id, cell, is_kept in con.sql(
            specs["semantic_dedup"].sql).fetchall():
        cells.setdefault(cell, []).append(vec_id)
        kept += bool(is_kept)
    vecs = dict(con.sql("SELECT vec_id, embedding FROM embeddings")
                .fetchall())
    n_cell = sorted(len(v) for v in cells.values())
    s["embeddings"] = len(vecs)
    s["cells"] = len(cells)
    s["cell_min"], s["cell_max"] = n_cell[0], n_cell[-1]
    s["cell_pairs"] = sum(n * (n - 1) // 2 for n in n_cell
                          if 2 <= n <= MAX_CELL)
    verified = 0
    for members in cells.values():
        if not 2 <= len(members) <= MAX_CELL:
            continue
        v = np.array([vecs[i] for i in members], dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        cos = np.round(v @ v.T, 6)
        verified += int((np.triu(cos, 1) >= SD_THRESHOLD).sum())
    s["cell_verified_pairs"] = verified
    s["semdedup_kept"] = kept

    n, keys = con.sql("SELECT count(*), count(DISTINCT (l_orderkey, "
                      "l_linenumber)) FROM lineitem").fetchone()
    s["lineitem"] = n
    s["lineitem_key_share"] = keys / n
    con.close()
    return s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, action="append", default=[])
    ap.add_argument("dirs", nargs="*")
    args = ap.parse_args(argv)
    import fixtures
    cols: dict[str, dict[str, float]] = {}
    for seed in args.seed:
        d = os.path.join(ROOT, ".perfbench_out", "shape", str(seed))
        fixtures.write_tables(seed, d)
        cols[f"seed {seed}"] = shape(d)
    for d in args.dirs:
        cols[os.path.basename(os.path.normpath(d))] = shape(d)
    if not cols:
        ap.error("give a --seed or a directory")
    names = list(next(iter(cols.values())))
    print(f"{'':22s}" + "".join(f"{c:>12s}" for c in cols))
    for k in names:
        print(f"{k:22s}" + "".join(f"{v[k]:12.4g}" for v in cols.values()))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())

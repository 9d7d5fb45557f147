"""Tokenizer inventories (ops/unigram.piece_table,
ops/wordpiece.wp_piece_table): equal to a pure-Python enumeration of
every (n, i) gram, and counted by one generator per histogram scan."""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest

from hops_spark.ops.unigram import (MAX_LEN, MAX_PIECE, MICRO, gram_counts,
                                    piece_table)
from hops_spark.ops.wordpiece import CONT, wp_piece_table


def _histogram(spark, seed: int = 11):
    """A seeded (w, n_occ, len) histogram over a 3-letter alphabet (so
    grams repeat and top-k ties are common), with words of length 1 to
    12 and one empty word, which must yield no grams."""
    rng = random.Random(seed)
    words = {"".join(rng.choice("abé") for _ in range(rng.randint(1, 12)))
             for _ in range(200)}
    rows = [(w, rng.randint(1, 5), len(w)) for w in sorted(words)]
    lens = {r[2] for r in rows}
    assert MAX_PIECE in lens and max(lens) > MAX_LEN
    rows.append(("", 3, 0))
    return (spark.createDataFrame(rows, "w string, n_occ long, len int"),
            rows)


def _ref_counts(rows, max_piece: int, wordpiece: bool) -> dict:
    cnt: dict[str, int] = {}
    for w, n_occ, L in rows:
        for n in range(1, min(L, max_piece) + 1):
            for i in range(1, L - n + 2):
                g = w[i - 1:i - 1 + n]
                p = CONT + g if wordpiece and i > 1 else g
                cnt[p] = cnt.get(p, 0) + n_occ
    return cnt


def _ref_select(cnt: dict, core_len, top_k: int, min_count: int) -> dict:
    """Every single-character form plus the top-k multi-character forms
    by (count desc, piece asc) among those with count >= min_count."""
    keep = {p: c for p, c in cnt.items() if core_len(p) == 1}
    multi = sorted((-c, p) for p, c in cnt.items()
                   if core_len(p) > 1 and c >= min_count)[:top_k]
    keep.update({p: -c for c, p in multi})
    return keep


@pytest.mark.parametrize("top_k,min_count,max_piece",
                         [(8, 2, MAX_PIECE), (5, 1, 2), (40, 2, 6)])
def test_piece_tables_equal_gram_reference(spark, top_k, min_count,
                                           max_piece):
    wc, rows = _histogram(spark)

    uni = {r["piece"]: (r["cnt"], r["cost_micro"])
           for r in piece_table(wc, top_k, min_count, max_piece).collect()}
    ref = _ref_select(_ref_counts(rows, max_piece, False), len, top_k,
                      min_count)
    assert {p: c for p, (c, _) in uni.items()} == ref
    nn, v = sum(ref.values()), len(ref)
    for p, c in ref.items():
        cost = Decimal(-math.log((c + 1) / (nn + v)) * MICRO)
        assert uni[p][1] == int(cost.quantize(Decimal(1), ROUND_HALF_UP)), p

    wp = {r["piece"]: r["cnt"]
          for r in wp_piece_table(wc, top_k, min_count,
                                  max_piece).collect()}
    core = lambda p: len(p) - (len(CONT) if p.startswith(CONT) else 0)  # noqa: E731
    assert wp == _ref_select(_ref_counts(rows, max_piece, True), core,
                             top_k, min_count)


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _scan_paths(df) -> list[list[str]]:
    """For every leaf (histogram scan) of the optimized logical plan,
    the node names between it and the nearest Aggregate above it."""
    out = []

    def walk(node, path):
        kids = _children(node)
        if not kids:
            out.append(path)
        name = node.nodeName()
        for k in kids:
            walk(k, [] if name == "Aggregate" else path + [name])

    walk(df._jdf.queryExecution().optimizedPlan(), [])
    return out


def test_piece_tables_count_grams_with_one_generator(spark):
    """Each histogram scan feeds exactly one Generate into its gram
    aggregate, with no Union in between (a per-n union of branches
    would put one scan and one Union child per branch there)."""
    wc, _ = _histogram(spark)
    assert _scan_paths(gram_counts(wc, MAX_PIECE)) == [["Project",
                                                       "Generate"]]
    for builder in (piece_table, wp_piece_table):
        paths = _scan_paths(builder(wc))
        assert paths, builder.__name__
        for path in paths:
            assert path.count("Generate") == 1, (builder.__name__, path)
            assert "Union" not in path, (builder.__name__, path)

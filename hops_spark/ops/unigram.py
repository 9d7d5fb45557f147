"""Unigram-LM subword tokenization (the SentencePiece flavor — Kudo
2018 'Subword Regularization': segment each word into the piece
sequence of minimal total -log p). Spark-first shape: all the work is
VOCAB-bounded, never corpus-bounded — the corpus collapses to the
distinct-word histogram first (the key-histogram discipline of
dyadic_cms_cells), the piece inventory is chars ∪ top-K frequent
n-grams, and the Viterbi DP runs in one Arrow pass over the word
table with the bounded piece table as a driver-side codebook (each DP
step j considers the ≤ max_piece pieces ending at j). Costs are exact
integer micro-nats
(round(-ln((cnt+1)/(N+V)) * 1e6) — the doc_perplexity discipline), and
ties break by the lexicographic (cost, n_pieces, seg) struct min, so
an independent engine reproduces every segmentation bit-for-bit.

Words longer than ``max_len`` fall back to character segmentation
(computable without DP in both engines) — the honest bound for the
unrolled plan; raise max_len for corpora with longer words.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000
TOP_K = 40
MIN_COUNT = 2
MAX_PIECE = 4
MAX_LEN = 10
SEP = "+"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, n_occ, len): the distinct-word histogram — the ONLY
    corpus-proportional pass (one keyed aggregate, map-side
    combined)."""
    from hops_spark.ops.text import words

    return (docs.select(F.explode(words(text_col)).alias("w"))
                .groupBy("w").agg(F.count("*").cast("long").alias("n_occ"))
                .withColumn("len", F.length("w").cast("int")))


def gram_counts(wc: DataFrame, max_piece: int,
                form=lambda n, i: F.substring("w", i, n)) -> DataFrame:
    """(piece, cnt): occurrence-weighted counts of every gram of the
    word histogram ``wc`` (w, n_occ, len) — each substring of length
    n = 1..min(len, max_piece) at each start i = 1..len - n + 1, named
    by ``form(n, i)``. ONE generator enumerates all (n, i) pairs: a
    per-n loop of ``unionByName`` branches emits the same multiset but
    scans the histogram once per branch and makes Catalyst analyze and
    optimize every copy. ``sequence(1, 0)`` counts DOWN, so empty
    words are dropped explicitly (the shingle_arrays guard)."""
    L = F.col("len")
    grams = F.flatten(F.transform(
        F.sequence(F.lit(1), F.least(L, F.lit(max_piece))),
        lambda n: F.transform(F.sequence(F.lit(1), L - n + 1),
                              lambda i: form(n, i))))
    return (wc.select(F.explode(F.when(L >= 1, grams)).alias("piece"),
                      "n_occ")
              .groupBy("piece")
              .agg(F.sum("n_occ").cast("long").alias("cnt")))


def piece_table(wc: DataFrame, top_k: int = TOP_K,
                min_count: int = MIN_COUNT,
                max_piece: int = MAX_PIECE) -> DataFrame:
    """(piece, cnt, cost_micro): every character plus the top-``top_k``
    2..max_piece-grams by occurrence-weighted count (ties to the
    lexicographically smaller gram); cost is the add-one-smoothed
    negative log prob in exact integer micro-nats over the SELECTED
    inventory (N = Σ cnt, V = |pieces|). The gram counts come from
    one ``gram_counts`` generator over the histogram ``wc``."""
    cnts = gram_counts(wc, max_piece)
    chars = cnts.filter(F.length("piece") == 1)
    multi = (cnts.filter((F.length("piece") > 1)
                         & (F.col("cnt") >= min_count))
                 .orderBy(F.col("cnt").desc(), "piece").limit(top_k))
    pieces = chars.unionByName(multi)
    tot = pieces.agg(F.sum("cnt").cast("long").alias("nn"),
                     F.count("*").cast("long").alias("v"))
    return (pieces.crossJoin(F.broadcast(tot))
                  .withColumn("cost_micro",
                              F.expr(f"CAST(round(-ln((cnt + 1) / "
                                     f"CAST(nn + v AS DOUBLE)) * {MICRO}, "
                                     f"0) AS BIGINT)"))
                  .select("piece", "cnt", "cost_micro"))


def viterbi_word(w: str, pm: dict, max_len: int = MAX_LEN,
                 max_piece: int = MAX_PIECE,
                 sep: str = SEP) -> tuple[str, int, int]:
    """The per-word Viterbi DP of ``viterbi_segment``, extracted
    verbatim (identical arithmetic, identical lexicographic
    (cost, n_pieces, seg) tie-break) so the fused single-Arrow-pass
    consumer (ops/wordpiece.fused_piece_counts) reuses the SAME code
    path instead of a copy. Returns (seg, n_pieces, cost_micro)."""
    L = len(w)
    if L > max_len:
        return sep.join(w), L, sum(pm[c] for c in w)
    best = [(0, 0, "")] + [None] * L
    for j in range(1, L + 1):
        cand = []
        for n in range(1, min(max_piece, j) + 1):
            piece = w[j - n:j]
            prev = best[j - n]
            if piece in pm and prev is not None:
                c0, n0, s0 = prev
                cand.append((c0 + pm[piece], n0 + 1,
                             s0 + (sep if s0 else "") + piece))
        best[j] = min(cand)
    c, np_, segs = best[L]
    return segs, np_, c


def viterbi_segment(wc: DataFrame, pieces: DataFrame,
                    max_len: int = MAX_LEN, max_piece: int = MAX_PIECE,
                    sep: str = SEP) -> DataFrame:
    """(w, n_occ, seg, n_pieces, cost_micro): the minimal-cost
    segmentation of every distinct word in ONE Arrow mapInPandas pass
    over the vocab-bounded word table. The piece table is collected to
    the driver first — it is BOUNDED BY CONSTRUCTION (≤ alphabet +
    top_k rows), the same codebook discipline knn_ivf uses — and the
    per-word DP is pure integer arithmetic with the lexicographic
    (cost, n_pieces, seg) tuple min as tie-break, so the unrolled-CTE
    oracle replays it struct-min-for-struct-min. A first draft ran the
    DP as max_len rounds of joins + struct-min aggregates; the frames
    were vocab-sized but the ~50 scheduled stages cost 26 s at sf0.01
    — the per-round shuffle overhead, not data (and without per-round
    materialization barriers BOTH engines hit tribonacci plan blowup:
    Catalyst analysis ran minutes, DuckDB exhausted file handles until
    the CTEs were MATERIALIZED). Words longer than max_len take the
    character fallback."""
    import pandas as pd

    pm = {r["piece"]: int(r["cost_micro"])
          for r in pieces.select("piece", "cost_micro").collect()}

    def seg_batch(batches):
        for pdf in batches:
            rows = []
            for w, n_occ in zip(pdf["w"], pdf["n_occ"]):
                segs, np_, c = viterbi_word(w, pm, max_len, max_piece, sep)
                rows.append((w, int(n_occ), segs, np_, c))
            yield pd.DataFrame(rows, columns=["w", "n_occ", "seg",
                                              "n_pieces", "cost_micro"])

    return wc.select("w", "n_occ").mapInPandas(
        seg_batch,
        "w string, n_occ long, seg string, n_pieces long, cost_micro long")


def hard_em_recount(segments: DataFrame, pieces: DataFrame,
                    sep: str = SEP) -> DataFrame:
    """One hard-EM re-estimation (the M-step over Viterbi-hard
    assignments — SentencePiece alternates exactly this with
    re-segmentation, inventory held fixed until the pruning stage):
    piece usage counts from the current segmentations weighted by word
    occurrences (pieces the segmenter never used keep 0 and get the
    add-one floor cost), costs renormalized over the SAME inventory.
    Both passes are inventory-bounded aggregates. Returns (piece,
    cnt_init, cnt_em, cost_em_micro)."""
    used = (segments.select(
        F.explode(F.split("seg", "\\" + sep)).alias("piece"), "n_occ")
        .groupBy("piece").agg(F.sum("n_occ").cast("long").alias("cnt_em")))
    base = (pieces.select("piece", F.col("cnt").alias("cnt_init"))
                  .join(used, "piece", "left")
                  .withColumn("cnt_em",
                              F.coalesce("cnt_em", F.lit(0)).cast("long")))
    tot = base.agg(F.sum("cnt_em").cast("long").alias("nn2"),
                   F.count("*").cast("long").alias("v2"))
    return (base.crossJoin(F.broadcast(tot))
                .withColumn("cost_em_micro",
                            F.expr(f"CAST(round(-ln((cnt_em + 1) / "
                                   f"CAST(nn2 + v2 AS DOUBLE)) * {MICRO}, "
                                   f"0) AS BIGINT)"))
                .select("piece", "cnt_init", "cnt_em", "cost_em_micro"))

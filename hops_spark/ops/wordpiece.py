"""WordPiece subword tokenization (the BERT flavor — greedy
longest-match-first segmentation with ``##``-prefixed continuation
pieces; public: Wu et al. 2016 "Google's Neural Machine Translation
System", Devlin et al. 2019 BERT §A; the matching rule is the
WordpieceTokenizer in the public BERT repo). Completes the tokenizer
family next to BPE (ops/bpe.py) and the unigram LM (ops/unigram.py):
three inventories, three segmentation rules, one Spark shape.

Spark-first shape — identical to ops/unigram.py: all work is
VOCAB-bounded, never corpus-bounded. The corpus collapses to the
distinct-word histogram first (one keyed aggregate, map-side combined),
the piece inventory is chars ∪ top-K frequent n-grams (counted
separately in word-initial and ``##``-continuation form, because
WordPiece vocabularies distinguish them), and the greedy walk runs in
one Arrow pass over the word table with the bounded piece set as a
driver-side codebook (the knn_ivf codebook discipline).

Unlike the unigram Viterbi there is NO tie-break subtlety: at a given
position each candidate length names exactly one substring, so the
longest vocab match is unique and the walk is deterministic by
construction — an independent engine replays it as a jump-table +
bounded-round walk (the oracle unrolls ≤ max_len rounds; each step
consumes ≥ 1 char). Totality: every word-initial character and every
``##``-prefixed character seen in the corpus is in the inventory, so
greedy always finds a length-1 match and no [UNK] branch is needed.

Words longer than ``max_len`` take the character fallback (initial
char + ``##`` chars) — the honest bound for the unrolled oracle plan,
same contract as unigram's MAX_LEN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOP_K = 40
MIN_COUNT = 2
MAX_PIECE = 4
MAX_LEN = 10
SEP = "+"
CONT = "##"


def wp_piece_table(wc: DataFrame, top_k: int = TOP_K,
                   min_count: int = MIN_COUNT,
                   max_piece: int = MAX_PIECE) -> DataFrame:
    """(piece, cnt): the WordPiece inventory over the distinct-word
    histogram ``wc`` (w, n_occ, len). Pieces come in two forms —
    word-initial (``substr(w, 1, n)``) and continuation
    (``'##' || substr(w, i, n)``, i ≥ 2) — counted separately with
    occurrence weights. Every single-character form (both kinds) is
    kept unconditionally (the totality guarantee); multi-character
    forms keep the top-``top_k`` by weighted count, ties to the
    lexicographically smaller piece. Everything here is vocab-bounded:
    both forms come from one ``gram_counts`` generator over distinct
    words, not the token stream."""
    from hops_spark.ops.unigram import gram_counts

    def form(n, i):
        g = F.substring("w", i, n)
        return F.when(i == 1, g).otherwise(F.concat(F.lit(CONT), g))

    cnts = gram_counts(wc, max_piece, form)
    core_len = (F.length("piece")
                - F.when(F.col("piece").startswith(CONT), F.lit(2))
                   .otherwise(F.lit(0)))
    chars = cnts.filter(core_len == 1)
    multi = (cnts.filter((core_len > 1) & (F.col("cnt") >= min_count))
                 .orderBy(F.col("cnt").desc(), "piece").limit(top_k))
    return chars.unionByName(multi)


def wp_greedy_segment(wc: DataFrame, pieces: DataFrame,
                      max_len: int = MAX_LEN, max_piece: int = MAX_PIECE,
                      sep: str = SEP) -> DataFrame:
    """(w, n_occ, seg, n_pieces): greedy longest-match-first
    segmentation of every distinct word in ONE Arrow mapInPandas pass.
    The piece set is collected to the driver first — bounded by
    construction (≤ 2·alphabet + top_k rows). At 100 TB the only
    data-proportional pass in the whole family is the word histogram
    aggregate that produced ``wc``; this op is vocab-proportional
    Arrow compute (the BPE-apply / unigram-Viterbi shape)."""
    import pandas as pd

    vocab = {r["piece"] for r in pieces.select("piece").collect()}

    def seg_batch(batches):
        for pdf in batches:
            rows = []
            for w, n_occ in zip(pdf["w"], pdf["n_occ"]):
                seg, np_ = wp_word(w, vocab, max_len, max_piece, sep)
                rows.append((w, int(n_occ), seg, np_))
            yield pd.DataFrame(rows, columns=["w", "n_occ", "seg",
                                              "n_pieces"])

    return wc.select("w", "n_occ").mapInPandas(
        seg_batch, "w string, n_occ long, seg string, n_pieces long")


def wp_word(w: str, vocab: set, max_len: int = MAX_LEN,
            max_piece: int = MAX_PIECE, sep: str = SEP) -> tuple[str, int]:
    """The per-word greedy walk of ``wp_greedy_segment``, extracted
    verbatim (same longest-match rule, same over-length character
    fallback, same fail-loud vocab-membership contract) so the fused
    single-Arrow-pass consumer (``fused_piece_counts``) reuses the
    SAME code path instead of a copy. Returns (seg, n_pieces)."""
    L = len(w)
    if L > max_len:
        # per-char fallback: same fail-loud vocab-membership
        # contract as the greedy path (a foreign piece table
        # must not yield silent out-of-inventory pieces for
        # long words while raising for short ones)
        forms = [w[0]] + [CONT + c for c in w[1:]]
        bad = next((f for f in forms if f not in vocab), None)
        if bad is not None:
            raise ValueError(
                f"wordpiece vocab lacks char piece {bad!r} "
                f"for over-length word {w!r}; build it with "
                "wp_piece_table over the same word histogram")
        return sep.join(forms), L
    out = []
    pos = 0
    while pos < L:
        for n in range(min(max_piece, L - pos), 0, -1):
            form = w[pos:pos + n] if pos == 0 else CONT + w[pos:pos + n]
            if form in vocab:
                out.append(form)
                pos += n
                break
        else:
            # totality violated (vocab not built from this corpus
            # by wp_piece_table): fail loud — without this a
            # missing char form would spin the executor forever
            raise ValueError(
                f"wordpiece vocab lacks a piece for {w!r} at "
                f"position {pos}; build it with wp_piece_table "
                "over the same word histogram")
    return sep.join(out), len(out)


def fused_piece_counts(wc: DataFrame, wp_pieces: DataFrame,
                       uni_pieces: DataFrame,
                       max_len: int = MAX_LEN, max_piece: int = MAX_PIECE,
                       sep: str = SEP) -> DataFrame:
    """(w, n_occ, np_wp, np_uni): BOTH subword piece counts per
    distinct word from ONE Arrow pass (guide §4.5 — heavyweight init
    once per task, one Python worker round-trip instead of two).
    Runs the exact ``wp_word`` greedy walk and ``viterbi_word`` DP the
    standalone ops run — piece counts are bit-identical by shared
    code, only the segmentation strings are not materialized. Built
    for tokenizer_compression, whose four faces need only the counts;
    any consumer needing ``seg`` keeps the standalone ops."""
    import pandas as pd

    from hops_spark.ops.unigram import viterbi_word

    vocab = {r["piece"] for r in wp_pieces.select("piece").collect()}
    pm = {r["piece"]: int(r["cost_micro"])
          for r in uni_pieces.select("piece", "cost_micro").collect()}

    def seg_batch(batches):
        for pdf in batches:
            rows = []
            for w, n_occ in zip(pdf["w"], pdf["n_occ"]):
                _, np_wp = wp_word(w, vocab, max_len, max_piece, sep)
                _, np_uni, _ = viterbi_word(w, pm, max_len, max_piece, sep)
                rows.append((w, int(n_occ), np_wp, np_uni))
            yield pd.DataFrame(rows, columns=["w", "n_occ",
                                              "np_wp", "np_uni"])

    return wc.select("w", "n_occ").mapInPandas(
        seg_batch, "w string, n_occ long, np_wp long, np_uni long")

"""BPE tokenizer training as a distributed job (public algorithm:
Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units"; the count-merge loop every LLM tokenizer trainer runs).

Where the scale actually is: the CORPUS pass — word frequencies — is
the one token-stream aggregate; everything after runs on the
vocab-with-counts table (bounded by vocabulary size, not corpus size),
exactly like single-machine trainers operate on the word-frequency
dict. The corpus count is a Catalyst aggregate; the merge loop then
runs DRIVER-SIDE over the collected vocab table with incrementally
maintained pair counts (a lazy-deletion heap + per-word deltas — the
classical fast-BPE algorithm): a 32k-merge vocab costs ONE Spark job
total, not one job per merge. Driver memory is bounded by the vocab
table, not the corpus; for open-vocabulary 100 TB corpora pass
``max_vocab_rows`` to cap it by (count desc, term asc) — the same
min-frequency pruning every production tokenizer trainer applies.

Merge semantics (engine-exact by construction): symbols are kept as a
space-joined string; merging pair (x, y) is a LITERAL left-to-right
non-overlapping ``replace(' '||sym||' ', ' x y ', ' xy ')`` — Java
``String.replace`` and DuckDB ``replace`` scan identically, so the
oracle reproduces every merge bit-for-bit. This differs from canonical
BPE only when the same pair occurs ≥2 times ADJACENTLY within one word
in one pass (the consumed-boundary-space case); the leftover pair melts
in a later iteration if still top-ranked. Ties in the argmax break on
(count desc, left, right).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.ops.text import window_starts, words


def vocab_symbols(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, n, sym): word frequencies (the one corpus aggregate) with
    each word exploded to space-joined characters."""
    wc = (docs.select(F.explode(words(text_col)).alias("term"))
              .groupBy("term").agg(F.count("*").alias("n")))
    return wc.withColumn(
        "sym",
        F.array_join(F.regexp_extract_all("term", F.lit("."), 0), " "))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    s = F.split("sym", " ")
    pairs = F.transform(
        window_starts(s, 2),
        lambda i: F.struct(F.element_at(s, i).alias("w1"),
                           F.element_at(s, i + 1).alias("w2")))
    return (vocab.select(F.col("n"), F.explode(pairs).alias("p"))
                 .groupBy("p.w1", "p.w2")
                 .agg(F.sum("n").alias("pair_count")))


def _word_pair_occurrences(sym: str) -> list[tuple[str, str]]:
    s = sym.split(" ")
    return [(s[i], s[i + 1]) for i in range(len(s) - 1)]


def _apply_merge(sym: str, w1: str, w2: str) -> str:
    """The engine's merge contract: literal LEFT-TO-RIGHT non-overlapping
    replace over the space-joined symbols — Python ``str.replace``, Java
    ``String.replace`` and DuckDB ``replace`` all scan identically, so
    the DuckDB oracle reproduces every merge bit-for-bit."""
    return (" " + sym + " ").replace(f" {w1} {w2} ", f" {w1}{w2} ").strip()


def bpe_train(spark: SparkSession, docs: DataFrame, k: int = 8,
              text_col: str = "text",
              max_vocab_rows: int | None = None) -> DataFrame:
    """Learn ``k`` BPE merges; returns (merge_rank, left_sym,
    right_sym, pair_count) in merge order (argmax by pair_count desc,
    then w1, w2 — identical to the oracle's ORDER BY).

    Cost model: ONE distributed aggregate (word frequencies) + a
    driver-side merge loop over the bounded vocab table with
    incrementally maintained pair counts — O(affected words) per merge
    via a pair→words index and a lazy-deletion max-heap, so a real 32k
    vocab trains in a single Spark job instead of 32k jobs. Cap driver
    memory on open-vocabulary corpora with ``max_vocab_rows``
    (deterministic top-count pruning)."""
    import heapq
    from collections import Counter, defaultdict

    vocab = vocab_symbols(docs, text_col)
    if max_vocab_rows is not None:
        vocab = vocab.orderBy(F.col("n").desc(), "term").limit(max_vocab_rows)
    words: list[list] = [[r["n"], r["sym"]]
                         for r in vocab.select("n", "sym").collect()]

    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (n, sym) in enumerate(words):
        for p in _word_pair_occurrences(sym):
            pair_counts[p] += n
            pair_words[p].add(i)

    # lazy-deletion heap: (-count, w1, w2); an entry is valid only if it
    # still matches pair_counts when popped.
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    def push(p: tuple[str, str]) -> None:
        c = pair_counts[p]
        if c > 0:
            heapq.heappush(heap, (-c, p[0], p[1]))

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(k):
        best: tuple[str, str] | None = None
        while heap:
            negc, w1, w2 = heapq.heappop(heap)
            if pair_counts.get((w1, w2), 0) == -negc:
                best = (w1, w2)
                break
        if best is None:
            break
        w1, w2 = best
        merges.append((rank, w1, w2, pair_counts[best]))
        touched: set[tuple[str, str]] = set()
        for i in sorted(pair_words[best]):
            n, sym = words[i]
            new_sym = _apply_merge(sym, w1, w2)
            if new_sym == sym:
                continue
            old_occ = _word_pair_occurrences(sym)
            new_occ = _word_pair_occurrences(new_sym)
            for p in old_occ:
                pair_counts[p] -= n
                touched.add(p)
            for p in set(old_occ):
                pair_words[p].discard(i)
            for p in new_occ:
                pair_counts[p] += n
                touched.add(p)
            for p in set(new_occ):
                pair_words[p].add(i)
            words[i][1] = new_sym
        for p in touched:
            if pair_counts[p] <= 0:
                del pair_counts[p]
                pair_words.pop(p, None)
            else:
                push(p)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count bigint")


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              out_col: str = "bpe_tokens") -> DataFrame:
    """Apply a learned merge list to a corpus — map-only: each doc's
    words become space-joined chars, then every merge replays in rank
    order (k chained whole-stage-codegen replaces, no shuffle)."""
    expr = ("transform(filter(split(lower({t}), '\\\\s+'), x -> x != ''), "
            "w -> array_join(regexp_extract_all(w, '.', 0), ' '))"
            ).format(t=text_col)
    for left, right in merges:
        expr = (f"transform({expr}, s -> trim(replace(' ' || s || ' ', "
                f"' {left} {right} ', ' {left}{right} ')))")
    return docs.withColumn(out_col, F.expr(expr))

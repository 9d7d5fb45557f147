"""Deduplication operators (north-star, BASELINE.json extensions).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
DataFrame. Everything is built from Column expressions (no Python in
the hot path) and is *cross-engine deterministic*: hashes are md5-based
(identical hex output in Spark and DuckDB) so the correctness oracle
can recompute signatures bit-for-bit.

Scale design (100 TB):
- MinHash/LSH is the scale path: cost is O(docs × shingles) for
  signatures + a band-bucket shuffle; candidate verification joins only
  within buckets. No all-pairs product anywhere.
- Band buckets are the classic skew risk (a boilerplate shingle set →
  one huge bucket). ``minhash_candidate_pairs`` caps bucket size
  (drop buckets > max_bucket) — standard practice; AQE skew-join
  handles moderate skew.
- Exact dedup is a single hash-aggregate on the fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hops_spark.ops.text import bound_words, window_starts, words


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the row with the smallest id per key group
    (deterministic winner). One shuffle on the dedup key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


# MinHash permutation constants: p_i(h) = (A_i·h + B_i) mod MERSENNE31,
# h = 28-bit int from md5(shingle). Deterministic (md5-seeded), identical
# in any engine with 64-bit integer arithmetic (A·h + B < 2^59).
MERSENNE31 = 2_147_483_647


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    import hashlib
    out = []
    for i in range(n_hashes):
        h = hashlib.md5(f"minhash|{i}".encode()).hexdigest()
        a = (int(h[:8], 16) | 1) % MERSENNE31
        b = int(h[8:16], 16) % MERSENNE31
        out.append((a or 1, b))
    return out


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Repartition to full parallelism when the input arrives in fewer
    partitions than cores (one small parquet file → one partition → an
    explode-heavy stage runs on a single core). The shuffle moves only
    the compact pre-explode rows; at scale it also evens out skewed
    file sizes before CPU-bound per-row work. Streaming inputs pass
    through untouched (.rdd is illegal there; micro-batch parallelism
    comes from the source partitioning)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def shingle_arrays(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   shingle_n: int = 3) -> DataFrame:
    """(id, shingle_arr) with the per-doc DISTINCT word-n-gram set as one
    array column — the dedup substrate, built with ZERO shuffles.

    Shingles are the ``window_starts`` windows of the ``bound_words``
    array. Per-doc distinct is ``array_distinct`` in the same
    projection — replacing a dropDuplicates shuffle of every shingle
    row, which at 100 TB is the difference between a map-only stage
    and shuffling the whole exploded corpus."""
    wdf = bound_words(fan_out(df, id_col), id_col, text_col=text_col)
    arr = F.array_distinct(F.transform(
        window_starts("_w", shingle_n),
        lambda i: F.concat_ws(" ", F.slice("_w", i, shingle_n))))
    return wdf.select(F.col(id_col), arr.alias("shingle_arr"))


def shingle_rows(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 shingle_n: int = 3) -> DataFrame:
    """(id, shingle, h) rows: one row per DISTINCT shingle per doc, with
    its 28-bit md5-derived hash. Map-only (explode of the per-doc
    distinct array — no dedup shuffle)."""
    sa = shingle_arrays(df, id_col, text_col, shingle_n)
    return (sa.select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
              .withColumn("h", F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10)
                               .cast("long")))


def _sig_cols(n_hashes: int) -> list:
    """Signature columns from a `_h` array<long> of shingle hashes:
    s_i = min over the array of the i-th affine permutation — computed
    array-side, so signatures need NO aggregation/shuffle at all."""
    return [F.array_min(F.transform(
                "_h", lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE31))))
             .alias(f"s{i}")
            for i, (a, b) in enumerate(minhash_coeffs(n_hashes))]


def _with_hash_arr(sa: DataFrame) -> DataFrame:
    return sa.withColumn("_h", F.transform(
        "shingle_arr",
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       n_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """Per-doc MinHash signature as columns s0..s{n-1} plus set_size.

    One md5 per shingle (not per shingle×hash), n integer affine
    permutations folded with array_min — a MAP-ONLY plan: cost
    O(shingles), zero shuffles (3.5× faster than the groupBy shape at
    sf0.1). Docs with no shingles (< n words) are excluded (can't be
    near-duplicates)."""
    sa = _with_hash_arr(shingle_arrays(df, id_col, text_col, shingle_n))
    return (sa.filter(F.size("shingle_arr") > 0)
              .select(F.col(id_col), *_sig_cols(n_hashes),
                      F.size("shingle_arr").cast("long").alias("set_size")))


def signature_string(sigs: DataFrame, id_col: str = "doc_id",
                     n_hashes: int = 16) -> DataFrame:
    """Signature packed as a '|'-joined string — the registered
    presentation form (array cells are unhashable in the driver's pandas
    canonicalizer, so registered outputs must be scalar)."""
    return sigs.select(F.col(id_col),
                       F.concat_ws("|", *[F.col(f"s{i}").cast("string")
                                          for i in range(n_hashes)])
                        .alias("signature"))


def minhash_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                            n_hashes: int = 16, bands: int = 4,
                            max_bucket: int = 1000) -> DataFrame:
    """LSH banding: hash each r-row band of the signature, bucket-join
    docs sharing any band hash. Emits distinct candidate (a, b) pairs,
    a < b. Buckets larger than max_bucket (boilerplate signatures) are
    dropped — the standard skew guard; AQE handles moderate skew."""
    r = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"s{i}").cast("string") for i in range(b * r, (b + 1) * r)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("|", *cols)).alias("bhash")))
    exploded = (sigs.select(id_col, F.explode(F.array(*band_cols)).alias("bb"))
                    .select(id_col, "bb.band", "bb.bhash"))
    # One shuffle: gather each bucket's ids, emit in-bucket pairs from
    # the sorted array (i < j). The size filter applies the bucket cap
    # for free (vs. a window count or a self-join, which shuffle the
    # band rows 2-3×). Per-bucket memory is bounded by max_bucket ids
    # (≤ max_bucket²/2 emitted pairs, the irreducible candidate count).
    buckets = (exploded.groupBy("band", "bhash")
                       .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
                       .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket)))
    pair_arr = F.flatten(F.transform(
        "ids",
        lambda x, i: F.transform(
            F.slice("ids", i + F.lit(2), F.size("ids")),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (buckets.select(F.explode(pair_arr).alias("p"))
                   .select("p.id_a", "p.id_b")
                   .distinct())


def jaccard_verify(pairs: DataFrame, rows: DataFrame, sizes: DataFrame,
                   id_col: str = "doc_id", threshold: float = 0.8,
                   broadcast_pairs: bool = True) -> DataFrame:
    """Exact Jaccard on candidates, fully relational: intersection size =
    count of shared shingle rows per pair (join on shingle), union =
    |A| + |B| − inter. No per-row arrays → no group-size memory cliff.

    LSH candidates are orders of magnitude smaller than the corpus, so
    by default every join broadcasts the pairs-derived side and STREAMS
    the big tables (shingle rows twice, sizes twice) with zero shuffles
    of them. If candidates are ever too big to broadcast, pass
    ``broadcast_pairs=False`` to fall back to shuffle joins (AQE still
    converts small sides at runtime)."""
    hint = F.broadcast if broadcast_pairs else (lambda df: df)
    ra = rows.select(F.col(id_col).alias("id_a"), "shingle")
    rb = rows.select(F.col(id_col).alias("id_b"), "shingle")
    a_shingles = hint(ra.join(hint(pairs), "id_a"))
    inter = (rb.join(a_shingles, ["id_b", "shingle"])
               .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    # Reduce the sizes table to just the docs appearing in pairs (streamed
    # semi-join), so the final joins are tiny-with-tiny.
    za = (sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
               .join(hint(pairs.select("id_a").distinct()), "id_a", "left_semi"))
    zb = (sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
               .join(hint(pairs.select("id_b").distinct()), "id_b", "left_semi"))
    return (pairs.join(inter, ["id_a", "id_b"], "left")
                 .withColumn("inter", F.coalesce("inter", F.lit(0)))
                 .join(hint(za), "id_a").join(hint(zb), "id_b")
                 .withColumn("uni", F.col("size_a") + F.col("size_b") - F.col("inter"))
                 .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        n_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
                        threshold: float = 0.8,
                        cache_candidates: bool = True) -> DataFrame:
    """End-to-end near-dup pipeline: shingle rows → signatures → LSH
    candidates → exact-Jaccard verify. Returns (id_a, id_b, jaccard).

    The candidate-pair set is CACHED by default: jaccard_verify consumes
    it three times (intersection join + two semi-join reductions) and
    Catalyst does not unify those subtrees (0 ReusedExchange — the
    broadcast and shuffle consumers canonicalize differently), so
    without the cache the whole shingle→band→bucket chain — the
    expensive part — executes once PER CONSUMER (~4×). LSH candidates
    are contractually orders of magnitude smaller than the corpus (the
    same contract that lets jaccard_verify broadcast them), so the
    cache is a small-memory trade for 3 recomputations of the heaviest
    subtree; measured 1.5× faster end-to-end at sf0.1. Pass
    ``cache_candidates=False`` if the caller manages persistence.

    The per-doc set-size table (id, set_size — two columns, one row per
    doc) is cached for the same reason: jaccard_verify reads it twice
    and each read otherwise re-runs the whole shingling pass just to
    take array sizes. Memory is ~16 B/doc cluster-wide. The big shingle
    lineage itself is deliberately NOT cached — measured slower (forces
    materialization of the widest intermediate; recompute-per-consumer
    wins there)."""
    sa = _with_hash_arr(shingle_arrays(df, id_col, text_col, shingle_n))
    sigs = (sa.filter(F.size("shingle_arr") > 0)
              .select(F.col(id_col), *_sig_cols(n_hashes),
                      F.size("shingle_arr").cast("long").alias("set_size")))
    rows = (sa.select(F.col(id_col), F.explode("shingle_arr").alias("shingle")))
    cands = minhash_candidate_pairs(sigs, id_col, n_hashes, bands)
    sizes: DataFrame = sigs
    if cache_candidates:
        cands = cands.cache()
        sizes = (sa.filter(F.size("shingle_arr") > 0)
                   .select(F.col(id_col),
                           F.size("shingle_arr").cast("long").alias("set_size"))
                   .cache())
    return jaccard_verify(cands, rows, sizes, id_col, threshold)


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 3, threshold: float = 0.8,
                        max_shingle_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity join — the ground truth the
    minhash/LSH path approximates (equal output = perfect recall).

    Relational, not all-pairs: self-join the (id, shingle) rows on
    shingle, count shared shingles per pair, filter on Jaccard. Only
    pairs sharing ≥1 shingle are ever materialized; cost is
    Σ_shingle k² over shingle doc-frequencies k, so ubiquitous
    shingles (df > max_shingle_freq) are dropped — they cannot push a
    high-threshold pair below/above it meaningfully and would O(k²)
    the join (the classic positional-filter trick from set-similarity
    join papers).

    ``max_shingle_freq=None`` resolves from the ACTIVE SESSION PROFILE
    (``spark.hops.dedup.maxShingleFreq``): 10000 under the local
    profile, 1000 under the ``scale`` profile — so the 100-TB-safe cap
    is the ambient default on a cluster, not a footnote (a surviving
    hot shingle admits up to cap² pairs). Treat this operator as the
    exact ground-truth/audit path — the production-scale near-dup
    sweep is ``minhash_dedup_pairs``."""
    if max_shingle_freq is None:
        from pyspark.sql import SparkSession
        sess = SparkSession.getActiveSession()
        # getActiveSession() is None off the driver thread / pre-builder:
        # fall back to the local-profile default rather than AttributeError.
        max_shingle_freq = int(
            sess.conf.get("spark.hops.dedup.maxShingleFreq", "10000")
            if sess is not None else 10000)
    sa = shingle_arrays(df, id_col, text_col, shingle_n)
    rows = sa.select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
    # ONE groupBy fuses the doc-frequency count, the hot-shingle prune
    # (bucket size IS the shingle's doc frequency), and the pair
    # production — the collect-sort-cap-emit shape. The former shape
    # (freq pass + broadcast anti-join + a×b self-join) shuffled the
    # shingle rows three times; this shuffles them once. Per-bucket
    # memory is bounded by max_shingle_freq ids.
    buckets = (rows.groupBy("shingle")
                   .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
                   .filter((F.size("ids") >= 2)
                           & (F.size("ids") <= max_shingle_freq)))
    pair_arr = F.flatten(F.transform(
        "ids",
        lambda x, i: F.transform(
            F.slice("ids", i + F.lit(2), F.size("ids")),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    inter = (buckets.select(F.explode(pair_arr).alias("p"))
                    .groupBy("p.id_a", "p.id_b")
                    .agg(F.count("*").alias("inter")))
    # set sizes map-side from the per-doc distinct arrays (no groupBy shuffle)
    sizes = (sa.filter(F.size("shingle_arr") > 0)
               .select(F.col(id_col),
                       F.size("shingle_arr").cast("long").alias("set_size")))
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (inter.join(za, "id_a").join(zb, "id_b")
                 .withColumn("jaccard", F.round(
                     F.col("inter")
                     / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  bits: int = 32) -> DataFrame:
    """SimHash over distinct word unigrams, cross-engine deterministic.

    Per token t: h(t) = first bits/4 hex nibbles of md5(t). Bit j of the
    simhash = 1 iff sum over tokens of (2*bit_j(h(t)) - 1) > 0. Nibbles
    are decoded with conv(hex,16,10) (Spark) / strpos on the hex alphabet
    (DuckDB oracle) — identical values.

    Shape: MAP-ONLY — the per-doc distinct token hashes are one
    array<long> column (materialized once behind a Generate barrier, so
    the md5/conv runs once per token, not once per token×bit), and bit
    j's vote is array-side: sum over tokens of (2·bit−1) > 0 ⇔
    2·|{h: bit_j(h)=1}| > n, i.e. a size(filter(...)) comparison. Zero
    shuffles (the previous shape exploded tokens and paid one groupBy of
    every token row — at 100 TB that shuffle is the whole cost).
    Docs with zero tokens are excluded."""
    wdf = (fan_out(df, id_col)
             .select(F.col(id_col),
                     F.explode(F.array(F.array_distinct(words(F.col(text_col)))))
                      .alias("_w")))
    # second barrier: the hash array, computed exactly once per doc
    hdf = (wdf.select(F.col(id_col),
                      F.explode(F.array(F.transform(
                          "_w",
                          lambda t: F.conv(F.substring(F.md5(t), 1, bits // 4),
                                           16, 10).cast("long"))))
                       .alias("_h"))
              .filter(F.size("_h") > 0))
    n = F.size("_h")
    total = None
    for j in range(bits):
        # bit j = bit (3 - j%4) of hex nibble j//4; nibble k sits at
        # integer bit offset 4*(bits/4 - 1 - k)
        pos = 4 * (bits // 4 - 1 - j // 4) + (3 - j % 4)
        ones = F.size(F.filter(
            "_h", lambda h: F.shiftright(h, pos).bitwiseAND(F.lit(1)) == 1))
        term = F.when(ones * 2 > n, F.lit(2 ** j).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
        total = term if total is None else total + term
    return hdf.select(F.col(id_col), total.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       bits: int = 32, max_hamming: int = 3, n_tables: int = 4,
                       max_bucket: int = 1000) -> DataFrame:
    """SimHash near-dup: block on bit-chunks (a pair within hamming d
    must agree on at least one of n_tables chunks when d < n_tables),
    then verify hamming distance exactly via bit_count(xor).

    Same collect-sort-cap-emit shape as ``minhash_candidate_pairs`` (no
    self-join): ONE shuffle gathers each (table, chunk) bucket, buckets
    larger than ``max_bucket`` — a popular chunk value on a
    boilerplate-heavy corpus, the O(k²) cliff — are dropped, and pairs
    are emitted from the sorted in-bucket array. Per-bucket state is
    bounded by max_bucket (id, simhash) structs."""
    st = simhash_table(df, id_col, text_col, bits)
    chunk = bits // n_tables
    mask = (1 << chunk) - 1
    blocks = []
    for t in range(n_tables):
        blocks.append(F.struct(F.lit(t).alias("tbl"),
                               F.shiftright(F.col("simhash"), t * chunk)
                                .bitwiseAND(F.lit(mask)).alias("chunk")))
    ex = (st.select(id_col, "simhash", F.explode(F.array(*blocks)).alias("b"))
            .select(id_col, "simhash", "b.tbl", "b.chunk"))
    # sort_array orders the structs by id (first field) → emitted pairs
    # already satisfy id_a < id_b.
    buckets = (ex.groupBy("tbl", "chunk")
                 .agg(F.sort_array(F.collect_list(
                     F.struct(F.col(id_col).alias("id"),
                              F.col("simhash").alias("sh")))).alias("members"))
                 .filter((F.size("members") >= 2)
                         & (F.size("members") <= max_bucket)))
    pair_arr = F.flatten(F.transform(
        "members",
        lambda x, i: F.transform(
            F.slice("members", i + F.lit(2), F.size("members")),
            lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                               x["sh"].alias("sh_a"), y["sh"].alias("sh_b")))))
    return (buckets.select(F.explode(pair_arr).alias("p"))
                   .select("p.id_a", "p.id_b",
                           F.bit_count(F.col("p.sh_a").bitwiseXOR(F.col("p.sh_b")))
                            .alias("hamming"))
                   .filter(F.col("hamming") <= max_hamming)
                   .distinct())


def contamination_flags(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 3, min_overlap: int = 3) -> DataFrame:
    """Benchmark decontamination (training-data hygiene): per corpus doc,
    the number of distinct n-gram shingles it shares with ANY benchmark
    document, flagged at ``min_overlap``.

    Scale shape: benchmark suites are contractually tiny next to the
    corpus (thousands of eval rows vs billions of docs), so the distinct
    benchmark shingle set BROADCASTS; the corpus shingle rows stream
    through the broadcast join map-only, and the only shuffle is the
    per-doc overlap count — whose input is already reduced to the
    matching rows. No pair materialization anywhere (contrast
    ngram_jaccard_pairs: this reduces per doc, not per doc-pair), so
    there is no O(k²) bucket to cap."""
    bsh = (shingle_arrays(benchmark, id_col, text_col, shingle_n)
           .select(F.explode("shingle_arr").alias("shingle"))
           .distinct())
    return contamination_flags_from_shingles(corpus, bsh, id_col,
                                             text_col, shingle_n,
                                             min_overlap)


def contamination_flags_from_shingles(corpus: DataFrame, bsh: DataFrame,
                                      id_col: str = "doc_id",
                                      text_col: str = "text",
                                      shingle_n: int = 3,
                                      min_overlap: int = 3) -> DataFrame:
    """Core of ``contamination_flags`` over a PRE-MATERIALIZED distinct
    benchmark shingle frame — the single expression source for the
    batch wrapper and the streaming ingest twin
    (``streaming.decontaminate_stream``), which persists the shingles
    once and re-reads them per micro-batch (the benchmark is frozen
    state, it never grows with the stream)."""
    crows = (shingle_arrays(corpus, id_col, text_col, shingle_n)
             .select(F.col(id_col), F.explode("shingle_arr").alias("shingle")))
    return (crows.join(F.broadcast(bsh), "shingle")
                 .groupBy(id_col)
                 .agg(F.count("*").alias("n_overlap"))
                 .withColumn("contaminated", F.col("n_overlap") >= min_overlap))


def contamination_flags_bloom(corpus: DataFrame, benchmark: DataFrame,
                              id_col: str = "doc_id", text_col: str = "text",
                              shingle_n: int = 3, min_overlap: int = 3,
                              m: int = 1 << 18, k: int = 4,
                              seed: str = "decon") -> DataFrame:
    """contamination_flags for the regime where the benchmark shingle
    SET is too large to broadcast-hash-join (a full eval-suite union is
    easily 10^8 shingles = multi-GB as a join hash table): the set is
    compressed to an ``m``-bit bloom bitmask (``m/8`` bytes regardless
    of shingle count — 2^18 bits = 32 KB here, 2^27 = 16 MB in
    production) that rides as ONE literal int-array evaluated MAP-SIDE
    in the corpus scan, so non-candidate corpus shingle rows die before
    any shuffle. Survivors (true overlaps + the bloom FP fraction) go
    through the exact verification join, which kills every false
    positive — the composition is EXACT, value-equal to
    contamination_flags (no false negatives by bloom construction;
    pytest states the law). The verification join carries no broadcast
    hint: in this regime the benchmark side shuffles, but only against
    the ~selectivity-sized surviving corpus stream — at 100 TB that is
    the difference between shuffling every corpus shingle and shuffling
    the contaminated sliver. Reuses the §2.4 bloom family kernels
    (ops/bloom.bloom_bitmask / bloom_join_filter, the BloomMapFile /
    bloom-join discipline applied to hygiene)."""
    from hops_spark.ops.bloom import bloom_bitmask, bloom_join_filter
    bsh = (shingle_arrays(benchmark, id_col, text_col, shingle_n)
           .select(F.explode("shingle_arr").alias("shingle"))
           .distinct())
    mask = bloom_bitmask(bsh, "shingle", m, k, seed)
    crows = (shingle_arrays(corpus, id_col, text_col, shingle_n)
             .select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
             .filter(bloom_join_filter(F.col("shingle"), mask, m, k, seed)))
    return (crows.join(bsh, "shingle")
                 .groupBy(id_col)
                 .agg(F.count("*").alias("n_overlap"))
                 .withColumn("contaminated", F.col("n_overlap") >= min_overlap))


def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8,
                    min_count: int = 2) -> DataFrame:
    """Cross-document duplicate SPANS: maximal token runs whose every
    k-gram occurs >= min_count times corpus-wide — the distributed
    approximation of exact-substring dedup (public: Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes substrings of >= 50 tokens occurring twice; a suffix array
    does not distribute, k-gram fingerprints do).

    Plan: one map-only pass emits (doc, pos, md5(k-gram)) from
    ``_gram_rows``; one aggregate counts gram occurrences (map-side
    partial); a LEFT SEMI join keeps duplicated positions (semi joins
    never blow up on hot grams — a boilerplate gram selects positions,
    it cannot multiply them); a per-doc window merges stride-1 runs into
    maximal spans (gaps-and-islands). Shuffles: gram count + semi join +
    per-doc window = bounded, all key-partitioned; no pair
    materialization anywhere, so corpus-frequency skew is structurally
    harmless.

    Returns (id, span_start, span_end, span_tokens): token-index ranges
    [span_start, span_end] (0-based, inclusive; span_tokens = length)
    that a cleaning pass would cut.
    """
    g = _gram_rows(df, id_col, text_col, k).select(
        id_col, "pos", F.md5("g").alias("h"))
    hot = (g.groupBy("h").agg(F.count("*").alias("_cnt"))
            .filter(F.col("_cnt") >= min_count)
            .select("h"))
    return _gram_islands(g.join(hot, "h", "left_semi"), id_col, k)


def _gram_rows(df: DataFrame, id_col: str, text_col: str,
               k: int) -> DataFrame:
    """(id, pos, g) — one EXACT k-token gram string per token position
    (0-based ``pos``; whitespace-joined, injective over
    whitespace-split tokens): the ``window_starts`` windows of the
    ``bound_words`` array. The exact-key consumers join on ``g``; the
    fingerprint consumers key on ``md5(g)``."""
    w = F.col("_w")
    gram = F.transform(window_starts(w, k),
                       lambda i: F.struct(
                           (i - 1).cast("long").alias("pos"),
                           F.concat_ws(" ", F.slice(w, i, k)).alias("g")))
    return (bound_words(df, id_col, text_col=text_col)
            .select(F.col(id_col), F.explode(gram).alias("x"))
            .select(id_col, F.col("x.pos").alias("pos"),
                    F.col("x.g").alias("g")))


def _gram_islands(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge stride-1 runs of flagged gram positions into maximal
    spans (gaps-and-islands; per-doc window, key-partitioned)."""
    ws = Window.partitionBy(id_col).orderBy("pos")
    run = Window.partitionBy(id_col).orderBy("pos") \
                .rowsBetween(Window.unboundedPreceding, 0)
    return (dup.withColumn("_new", F.when(
                    F.col("pos") - F.lag("pos").over(ws) == 1, 0).otherwise(1))
               .withColumn("_span", F.sum("_new").over(run))
               .groupBy(id_col, "_span")
               .agg(F.min("pos").alias("span_start"),
                    (F.max("pos") + (k - 1)).alias("span_end"))
               .withColumn("span_tokens",
                           F.col("span_end") - F.col("span_start") + 1)
               .select(id_col, "span_start", "span_end", "span_tokens"))


def contamination_spans(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        k: int = 8, min_tokens: int = 12) -> DataFrame:
    """SUBSTRING-level decontamination (the strict form: Lee et al.
    2022 apply ExactSubstr across train/eval the same way): maximal
    token spans of a corpus doc whose every k-gram also occurs in the
    benchmark set, kept only at >= ``min_tokens`` — i.e. long verbatim
    benchmark passages inside training docs, with their exact
    boundaries (so a cleaning pass can EXCISE the leak instead of
    dropping the doc — excise_spans composes directly).

    Complements contamination_flags: the shingle-overlap flag is
    recall-oriented (any 3 shared shingles anywhere), this is
    precision-oriented (one contiguous >= min_tokens verbatim run).
    Plan: map-only gram emit on both sides, benchmark grams reduced
    DISTINCT (bounded by the eval suite), LEFT SEMI join selects
    corpus positions (hot benchmark boilerplate selects, never
    multiplies), per-doc islands window — the duplicate_spans shuffle
    shape exactly; at the 10^8-shingle benchmark scale the
    decontaminate_bloom bitmask composes in front of the semi join."""
    g = _gram_rows(corpus, id_col, text_col, k).select(
        id_col, "pos", F.md5("g").alias("h"))
    bg = (_gram_rows(benchmark, id_col, text_col, k)
          .select(F.md5("g").alias("h")).distinct())
    flagged = g.join(bg, "h", "left_semi")
    return (_gram_islands(flagged, id_col, k)
            .filter(F.col("span_tokens") >= min_tokens))


#: Auto-switch thresholds for the dictionary-encoded suffix payload:
#: int codes replace token strings only when the corpus is big AND its
#: tokens are long — the win is PAYLOAD-RATIO-driven, not row-count-
#: driven (measured, SCALE.md note 88): 4M 33-char md5 tokens win
#: 1.4-3x on the code path (~8 B vs ~34 B/token through two wide
#: exchanges), but 2.7M natural ~6-char tokens LOSE (6.8 s string vs
#: 9.7 s int at sf1) because 8-byte codes save nothing over short
#: strings while the encode join + regroup still costs. Output is
#: identical either way (order isomorphism).
SUFFIX_DICT_TOKENS = 2_000_000
SUFFIX_DICT_MIN_CHARS = 12.0


def suffix_dup_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_tokens: int = 50,
                     prefix_cap: int | None = None,
                     dict_encode: bool | None = None) -> DataFrame:
    """EXACT-substring duplicate spans, suffix-array grade — the
    distributed form of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") §4.2's ExactSubstr: find every
    maximal token range that also occurs elsewhere in the corpus with
    length >= ``min_tokens``, with NO hashing anywhere (contrast
    ``duplicate_spans``' md5 k-gram fingerprints: collision-free by
    construction, and spans merge by INTERVAL UNION, not stride-1
    runs — two duplicated window starts 2 apart merge here because
    their windows overlap, where the fingerprint path splits them).

    The suffix-array step distributes as the TotalOrderPartitioner
    discipline applied to suffixes (SURVEY §2.5's two-phase sort —
    terasort.TeraInputFormat sampling + total-order ranges):

    1. One map-only pass emits a suffix row per eligible token
       position: (doc, pos, skey) where skey = the next
       ``prefix_cap`` tokens as array<string>. Positions with fewer
       than ``min_tokens`` tokens remaining cannot start a duplicate
       and are never emitted.
    2. ``total_order_rank`` range-partitions on skey (sampled
       boundaries — the InputSampler/TotalOrderPartitioner shape),
       sorts within partitions, and assigns the global suffix-array
       rank with the two-phase offset join (no single-partition
       window over the data).
    3. Adjacent ranks join (rank -> rank+1, one hash shuffle) and the
       token-LCP of each adjacent suffix pair is computed array-side.
       By the suffix-array property, a suffix's longest common prefix
       with ANY other suffix is attained at a sort neighbor, so
       dup_len(pos) = max(LCP with prev, LCP with next) — one keyed
       max aggregate. Ties in the sort order cannot change the result:
       equal keys are contiguous under range partitioning and give
       full-length LCP regardless of their internal order, so the
       output is engine- and partitioning-deterministic.
    4. Every position with dup_len >= min_tokens contributes the
       interval [pos, pos + dup_len - 1]; a per-doc gaps-and-islands
       window merges overlapping/touching intervals into maximal
       spans (the union-of-windows semantics of the paper).

    Scale: suffix rows are a prefix_cap-token payload per corpus token
    — the known cost of exact-substring dedup (the paper materializes
    the same order); every stage is key-partitioned (range on skey,
    hash on rank, keyed max, per-doc window) with no pair
    materialization, so a boilerplate passage selects suffix rows but
    cannot multiply them.

    ``dict_encode``: carry the suffix keys as ORDER-PRESERVING INT
    CODES instead of token strings — one extra vocab-sized total-order
    rank (tokens sorted once; Heaps'-law bounded) plus one keyed join
    re-encodes every doc, then the range exchange, the rank sort, and
    the adjacency join all ship ~8 bytes/token instead of the full
    token text. Output is IDENTICAL by construction: the code map is a
    strict order isomorphism on the vocabulary, so the suffix order is
    the same permutation and code-LCP == token-LCP at every adjacent
    pair (asserted against the string path on the 4M-suffix stress
    tier). Default ``None`` auto-enables above ``SUFFIX_DICT_TOKENS``
    corpus tokens (one narrow token-count pass — noise next to the
    suffix sort itself); the relational oracle stays valid either way
    because the OUTPUT, not the intermediate key, is what it replays.

    Returns (id, span_start, span_end, span_tokens): 0-based inclusive
    token ranges a cleaning pass would cut."""
    from hops_spark.ops.sort import total_order_rank

    if prefix_cap is None:
        prefix_cap = min_tokens
    if prefix_cap < min_tokens:
        raise ValueError("prefix_cap must be >= min_tokens")
    L, C = min_tokens, prefix_cap
    bound = bound_words(fan_out(df, id_col), id_col, text_col=text_col)
    if dict_encode is None:
        # cheap ESTIMATE, not an exact token count: a narrow id-only
        # count plus a 256-doc probe of tokens/doc and chars/token (an
        # exact sum(size(words)) pass re-tokenized the whole corpus and
        # cost the sf0.1 suffix bench keys ~15% — measured r9; the
        # decision only needs order-of-magnitude accuracy). Both gates
        # must pass: scale AND long tokens (constant docstrings above).
        n_docs = bound.count()
        probe = (bound.limit(256)
                 .agg(F.avg(F.size("_w")).alias("t"),
                      F.avg(F.length(F.concat_ws(" ", "_w"))
                            / F.greatest(F.size("_w"), F.lit(1)))
                       .alias("c"))
                 .collect()[0] if n_docs else None)
        avg_toks = (probe["t"] if probe else 0) or 0
        avg_chars = (probe["c"] if probe else 0) or 0
        dict_encode = (n_docs * avg_toks > SUFFIX_DICT_TOKENS
                       and avg_chars >= SUFFIX_DICT_MIN_CHARS)
    if dict_encode:
        tok_rows = bound.select(F.col(id_col),
                                F.posexplode("_w").alias("_tp", "_tok"))
        codes = total_order_rank(tok_rows.select("_tok").distinct(),
                                 "_tok", rank_col="_code")
        bound = (tok_rows.join(codes, "_tok")
                 .groupBy(id_col)
                 .agg(F.array_sort(F.collect_list(
                     F.struct("_tp", "_code"))).alias("_pc"))
                 .select(F.col(id_col),
                         F.transform("_pc", lambda s: s["_code"])
                          .alias("_w")))
    w = F.col("_w")
    suf = (bound.select(
               F.col(id_col),
               F.explode(F.transform(
                   window_starts(w, L),
                   lambda i: F.struct((i - 1).cast("long").alias("pos"),
                                      F.slice(w, i, C).alias("skey"))))
                .alias("s"))
           .select(id_col, F.col("s.pos").alias("pos"),
                   F.col("s.skey").alias("skey")))
    ranked = total_order_rank(suf, "skey", id_col, "pos", rank_col="_rk")
    ka, kb = F.col("_ka"), F.col("_kb")
    mism = F.filter(F.sequence(F.lit(1), F.least(F.size(ka), F.size(kb))),
                    lambda i: F.element_at(ka, i) != F.element_at(kb, i))
    lcp = F.when(F.size(mism) > 0, F.element_at(mism, 1) - 1) \
           .otherwise(F.least(F.size(ka), F.size(kb))).cast("long")
    # Block-partitioned lead adjacency (guide §2.3 — fewer shuffled
    # bytes): the rank self-join shipped the FULL suffix payload
    # through TWO hash exchanges (and was pinned sort-merge because
    # the payload is never broadcastable and SHJ's build map OOM'd at
    # the 4M-suffix stress tier — round 9). Here each suffix row moves
    # through ONE exchange into its 1024-rank block, a lead() window
    # pairs consecutive ranks inside the block (ranks are contiguous
    # 1-based by total_order_rank's contract), and only the 2/1024
    # block-boundary rows take a second (tiny) exchange — spillable
    # sort-based window, same robustness story as the SMJ it replaces.
    # Pair set is identical: {(r, r+1)} = in-block pairs (r % B != 0)
    # ∪ boundary pairs (r % B == 0).
    BLK = 1024
    rb = ranked.withColumn("_blk", F.expr(f"(_rk - 1) div {BLK}"))
    wb = Window.partitionBy("_blk").orderBy("_rk")
    within = (rb.select(
                  F.col("_rk"),
                  F.col(id_col).alias("_da"), F.col("pos").alias("_pa"),
                  F.col("skey").alias("_ka"),
                  F.lead(F.col(id_col)).over(wb).alias("_db"),
                  F.lead(F.col("pos")).over(wb).alias("_pb"),
                  F.lead(F.col("skey")).over(wb).alias("_kb"))
                .filter(F.col("_db").isNotNull()))
    lasts = (rb.filter(F.col("_rk") % BLK == 0)
               .select(F.col("_rk"),
                       F.col(id_col).alias("_da"), F.col("pos").alias("_pa"),
                       F.col("skey").alias("_ka")))
    firsts = (rb.filter((F.col("_rk") % BLK == 1) & (F.col("_rk") > 1))
                .select((F.col("_rk") - 1).alias("_rk"),
                        F.col(id_col).alias("_db"), F.col("pos").alias("_pb"),
                        F.col("skey").alias("_kb")))
    adj = (within.drop("_rk")
                 .unionByName(lasts.join(firsts, "_rk").drop("_rk"))
                 .withColumn("_lcp", lcp))
    hits = adj.select(F.explode(F.array(
               F.struct(F.col("_da").alias(id_col), F.col("_pa").alias("pos")),
               F.struct(F.col("_db").alias(id_col), F.col("_pb").alias("pos"))
           )).alias("h"), F.col("_lcp")) \
           .select(F.col(f"h.{id_col}").alias(id_col),
                   F.col("h.pos").alias("pos"), "_lcp")
    dup = (hits.groupBy(id_col, "pos")
               .agg(F.max("_lcp").alias("dup_len"))
               .filter(F.col("dup_len") >= L)
               .withColumn("_end", F.col("pos") + F.col("dup_len") - 1))
    return _interval_islands(dup, id_col)


def _interval_islands(dup: DataFrame, id_col: str) -> DataFrame:
    """Merge (id, pos, _end) token intervals into maximal spans by
    INTERVAL UNION (overlapping or touching intervals coalesce — the
    union-of-windows semantics of Lee et al. 2022, contrast
    ``_gram_islands``' stride-1 runs): per-doc window keyed on the doc
    — never a global sort."""
    ws = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("_end").over(ws.rowsBetween(Window.unboundedPreceding, -1))
    return (dup.withColumn("_new", F.when(
                   prev_end.isNull() | (F.col("pos") > prev_end + 1), 1)
                   .otherwise(0))
               .withColumn("_island", F.sum("_new").over(
                   ws.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy(id_col, "_island")
               .agg(F.min("pos").alias("span_start"),
                    F.max("_end").alias("span_end"))
               .withColumn("span_tokens",
                           F.col("span_end") - F.col("span_start") + 1)
               .select(id_col, "span_start", "span_end", "span_tokens"))


def contamination_attribution(corpus: DataFrame, benchmark: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              min_tokens: int = 12) -> DataFrame:
    """Per-BENCHMARK-doc leak report — the governance face of
    decontamination: for every benchmark document, how many corpus
    documents share at least one exact ``min_tokens``-gram with it
    (n_corpus_docs) and how many of ITS OWN distinct grams occur
    anywhere in the corpus (n_shared_grams). Answers "which eval items
    are compromised, and how badly" — the question the span queries
    (corpus-side, for excision) don't.

    Shape: both gram emits are map-only; doc-level attribution
    deduplicates (corpus_doc, gram) BEFORE the join so a gram repeated
    within one corpus doc cannot multiply rows; the bench-side gram
    coverage is a LEFT SEMI against distinct corpus grams (hot
    boilerplate selects, never multiplies). The only true join is
    bench-gram x corpus-doc — exactly the attribution being asked for;
    its volume IS the leak volume. Returns
    (bench_id, n_corpus_docs, n_shared_grams) for contaminated
    benchmark docs only."""
    L = min_tokens
    bg = (_gram_rows(benchmark, id_col, text_col, L)
          .select(F.col(id_col).alias("bench_id"), "g").distinct())
    cd = (_gram_rows(corpus, id_col, text_col, L)
          .select(F.col(id_col).alias("corpus_id"), "g").distinct())
    docs = (bg.join(cd, "g")
              .select("bench_id", "corpus_id").distinct()
              .groupBy("bench_id")
              .agg(F.count("*").alias("n_corpus_docs")))
    grams = (bg.join(cd.select("g").distinct(), "g", "left_semi")
               .groupBy("bench_id")
               .agg(F.count("*").alias("n_shared_grams")))
    return docs.join(grams, "bench_id")


def contamination_exact_spans(corpus: DataFrame, benchmark: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              min_tokens: int = 12,
                              bloom_m: int | None = None,
                              bloom_k: int = 4) -> DataFrame:
    """COLLISION-FREE substring-level decontamination — the
    suffix-grade guarantee of ``suffix_dup_spans`` applied
    cross-corpus (Lee et al. 2022 decontaminate train-vs-eval with the
    same ExactSubstr machinery): maximal corpus spans whose tokens
    appear VERBATIM in the benchmark at length >= ``min_tokens``,
    with no hashing anywhere — ``contamination_spans`` keys its semi
    join on md5 k-gram fingerprints (collisions possible, stride-run
    merge), this keys on the EXACT L-token text.

    Why no suffix sort is needed cross-corpus: a shared substring of
    length >= L contains a shared exact L-gram at every offset, and
    anything shorter is below threshold by definition — so exact
    L-gram equality (L = min_tokens) is both necessary and sufficient,
    and the flagged positions' INTERVAL UNION ([pos, pos+L-1] windows
    merged where overlapping/touching — ``_interval_islands``, the
    suffix_dup_spans merge, not stride-1 runs) reconstructs every
    maximal contaminated region exactly. The total-order suffix rank
    buys its keep only for SELF-dedup, where the other side is the
    whole corpus and per-position maximal match lengths vary; across
    corpora the threshold is fixed and the semi-join form wins: one
    map-only gram emit per side, benchmark grams reduced DISTINCT
    (bounded by the eval suite), one keyed semi join (hot benchmark
    boilerplate SELECTS corpus rows, never multiplies them), one
    per-doc window. The join key is the raw L-token string
    (whitespace-joined — injective over whitespace-split tokens), so
    the shuffle ships ~L tokens per corpus position, the same payload
    suffix rows carry at prefix_cap=L; at the 10^8-gram benchmark
    scale the decontaminate_bloom bitmask composes in front of the
    semi join exactly as it does for the fingerprint form —
    ``bloom_m`` enables it: the benchmark L-grams compress to an
    m-bit literal bitmask evaluated MAP-SIDE in the corpus gram scan,
    so non-candidate positions die before the shuffle; the exact semi
    join then kills every bloom false positive, so the composition is
    VALUE-EQUAL to the plain form (no false negatives by bloom
    construction — the contamination_flags_bloom law, pytest).

    Returns (id, span_start, span_end, span_tokens) — excise_spans
    composes directly."""
    L = min_tokens
    cg = _gram_rows(corpus, id_col, text_col, L)
    bg = _gram_rows(benchmark, id_col, text_col, L) \
        .select("g").distinct()
    if bloom_m is not None:
        from hops_spark.ops.bloom import bloom_bitmask, bloom_join_filter
        mask = bloom_bitmask(bg, "g", bloom_m, bloom_k, "exspan")
        cg = cg.filter(bloom_join_filter(F.col("g"), mask, bloom_m,
                                         bloom_k, "exspan"))
    flagged = (cg.join(bg, "g", "left_semi")
                 .withColumn("_end", F.col("pos") + F.lit(L - 1)))
    return _interval_islands(flagged.select(id_col, "pos", "_end"), id_col)


def excise_spans(df: DataFrame, spans: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text"
                 ) -> DataFrame:
    """CUT duplicate spans out of the corpus — the cleaning step that
    consumes ``suffix_dup_spans``/``duplicate_spans`` output (Lee et
    al. 2022 remove one occurrence of each duplicated substring; the
    conservative corpus-hygiene variant here removes every flagged
    range, e.g. boilerplate present hundreds of times).

    Array-side, no per-token shuffle: the spans aggregate to ONE
    bounded array<struct> per doc (spans per doc are merged maximal
    intervals — dozens at most, by construction) and equi-join the
    docs on the doc key (AQE picks broadcast only when the flagged-doc
    set is genuinely small — at corpus scale it is a keyed hash join,
    never a driver collect); token retention is a filter over the
    positions array against that array (exists-in-interval), and the
    clean text is one concat_ws — the whole excision is a single
    narrow projection per doc. Docs with no spans pass through
    untouched via the left join.

    Returns (id, n_tokens, n_cut, clean_text)."""
    sp = (spans.groupBy(id_col)
               .agg(F.sort_array(F.collect_list(F.struct(
                   F.col("span_start").alias("s"),
                   F.col("span_end").alias("e")))).alias("_sp")))
    bound = bound_words(df.join(sp, id_col, "left"), id_col, "_sp",
                        text_col=text_col)
    w, spn = F.col("_w"), F.coalesce(
        F.col("_sp"), F.array().cast("array<struct<s:long,e:long>>"))
    idx = F.when(F.size(w) > 0, F.sequence(F.lit(0), F.size(w) - 1)
                 ).otherwise(F.array().cast("array<int>"))
    keep = F.filter(idx, lambda i: ~F.exists(
        spn, lambda s: (i >= s["s"]) & (i <= s["e"])))
    return (bound.select(
        F.col(id_col),
        F.size(w).cast("long").alias("n_tokens"),
        (F.size(w) - F.size(keep)).cast("long").alias("n_cut"),
        F.concat_ws(" ", F.transform(keep, lambda i: F.element_at(w, i + 1)))
         .alias("clean_text")))


def _band_rows(sigs: DataFrame, id_col: str, n_hashes: int,
               bands: int) -> DataFrame:
    """(id, band, bhash) — one row per LSH band per doc (the banding
    step of minhash_candidate_pairs, factored for cross-corpus use)."""
    r = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"s{i}").cast("string") for i in range(b * r, (b + 1) * r)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("|", *cols)).alias("bhash")))
    return (sigs.select(id_col, F.explode(F.array(*band_cols)).alias("bb"))
                .select(id_col, "bb.band", "bb.bhash"))


def dedup_state_parts(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = 16,
                      shingle_n: int = 3
                      ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The SIGNATURE-STORE representation of a corpus for incremental
    dedup: (digests, minhash signatures, shingle rows) — everything
    the asymmetric flags computation needs, and nothing else (raw text
    never re-derives; batch and stream share THIS one derivation, the
    r7 discipline). digests: (id, _th md5); sigs: (id, s0..s{n-1},
    set_size); shingles: (id, shingle)."""
    digests = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_th"))
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    sh = shingle_rows(df, id_col, text_col, shingle_n)
    return digests, sigs, sh


def incremental_dedup_flags(new_df: DataFrame, existing_df: DataFrame,
                            id_col: str = "doc_id", text_col: str = "text",
                            n_hashes: int = 16, bands: int = 4,
                            shingle_n: int = 3, threshold: float = 0.8,
                            max_bucket: int = 1000) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the production
    shape (each crawl/ingest dedups against everything already kept;
    re-clustering the whole corpus per batch would be quadratic over
    time). Returns one row per new doc:
    (id, exact_dup, near_dup, is_kept = neither).

    - Exact: content-hash LEFT SEMI against the existing corpus (only
      16-byte digests shuffle).
    - Near: ASYMMETRIC LSH — band rows for both sides, candidate join
      restricted to new x existing (never existing x existing, the
      whole point), per-(band,bucket) cap applied to the EXISTING side
      (boilerplate guard), exact-Jaccard verify on candidate pairs via
      shingle-row joins (no array intersections).
    Shuffle inventory: 1 digest semi-join + 1 banded bucket join +
    the verify joins over candidate-restricted rows — all bounded; no
    self-join of either corpus.

    The derivation is shared with the streaming twin
    (``streaming.incremental_dedup_stream``) through
    ``dedup_state_parts`` + ``incremental_flags_from_parts``: the
    stream persists the parts as its signature store and this wrapper
    computes them inline."""
    return incremental_flags_from_parts(
        dedup_state_parts(new_df, id_col, text_col, n_hashes, shingle_n),
        dedup_state_parts(existing_df, id_col, text_col, n_hashes,
                          shingle_n),
        id_col=id_col, n_hashes=n_hashes, bands=bands,
        threshold=threshold, max_bucket=max_bucket)


def intra_batch_dup_ids(parts: tuple[DataFrame, DataFrame, DataFrame],
                        id_col: str = "doc_id", n_hashes: int = 16,
                        bands: int = 4, threshold: float = 0.8,
                        max_bucket: int = 1000) -> DataFrame:
    """(id, exact_dup, near_dup) for documents duplicating a LOWER-id
    document of the SAME parts frame — the within-batch half of
    streaming incremental dedup. The asymmetric store comparison never
    sees two same-batch arrivals, so without this pass a pair of
    identical docs landing in one micro-batch would BOTH be kept and
    BOTH enter the signature store forever. First occurrence wins by
    id (the exact_dedup tie-break); only flagged ids are returned.

    Cost: one digest self-equi-join plus the standard banded LSH +
    Jaccard verify restricted to the batch — batch-sized, independent
    of store history."""
    digests, sigs, sh = parts
    a = digests.select(F.col(id_col).alias("_ia"), F.col("_th"))
    b = digests.select(F.col(id_col).alias("_ib"), F.col("_th"))
    exact = (a.join(b, "_th")
              .filter(F.col("_ib") < F.col("_ia"))
              .select(F.col("_ia").alias(id_col)).distinct()
              .withColumn("_ex", F.lit(True)))
    cand = minhash_candidate_pairs(sigs, id_col, n_hashes, bands,
                                   max_bucket)
    sizes = sigs.select(id_col, "set_size")
    near = (jaccard_verify(cand, sh, sizes, id_col, threshold)
            .select(F.col("id_b").alias(id_col)).distinct()
            .withColumn("_nr", F.lit(True)))
    return (exact.join(near, id_col, "full")
                 .select(id_col,
                         F.coalesce("_ex", F.lit(False)).alias("exact_dup"),
                         F.coalesce("_nr", F.lit(False)).alias("near_dup")))


def combined_incremental_flags(
        new_parts: tuple[DataFrame, DataFrame, DataFrame],
        existing_parts: tuple[DataFrame, DataFrame, DataFrame],
        id_col: str = "doc_id", n_hashes: int = 16, bands: int = 4,
        threshold: float = 0.8, max_bucket: int = 1000) -> DataFrame:
    """Full per-micro-batch flag set of streaming incremental dedup:
    the asymmetric store comparison (``incremental_flags_from_parts``)
    OR'd with the within-batch pass (``intra_batch_dup_ids``) — a doc
    is flagged if it duplicates the kept corpus OR a lower-id doc of
    its own batch, and ``is_kept`` derives from the combined flags
    (so only one copy of an intra-batch duplicate group can enter the
    store). This is the SINGLE expression source for
    ``streaming.incremental_dedup_stream`` and its batch-fold
    equivalence test — the two cannot diverge (the round-8 lesson:
    the stream grew the intra-batch pass while the test still folded
    the plain store flags)."""
    store_flags = incremental_flags_from_parts(
        new_parts, existing_parts, id_col=id_col, n_hashes=n_hashes,
        bands=bands, threshold=threshold, max_bucket=max_bucket)
    intra = intra_batch_dup_ids(new_parts, id_col, n_hashes, bands,
                                threshold, max_bucket)
    iex = F.coalesce("_iex", F.lit(False))
    inr = F.coalesce("_inr", F.lit(False))
    return (store_flags
            .join(intra.select(id_col,
                               F.col("exact_dup").alias("_iex"),
                               F.col("near_dup").alias("_inr")),
                  id_col, "left")
            .select(id_col,
                    (F.col("exact_dup") | iex).alias("exact_dup"),
                    (F.col("near_dup") | inr).alias("near_dup"))
            .withColumn("is_kept",
                        ~(F.col("exact_dup") | F.col("near_dup"))))


def incremental_flags_from_parts(
        new_parts: tuple[DataFrame, DataFrame, DataFrame],
        existing_parts: tuple[DataFrame, DataFrame, DataFrame],
        id_col: str = "doc_id", n_hashes: int = 16, bands: int = 4,
        threshold: float = 0.8, max_bucket: int = 1000) -> DataFrame:
    """Core of the asymmetric incremental dedup over signature-store
    parts (see ``dedup_state_parts``) — the single expression source
    for the batch wrapper and the streaming foreachBatch twin."""
    nh_d, sig_n, rows_n_src = new_parts
    eh_d, sig_e, rows_e_src = existing_parts

    # exact content match
    eh = eh_d.select("_th").distinct()
    exact = (nh_d.join(eh.withColumn("_e", F.lit(True)), "_th", "left")
                 .select(id_col,
                         F.coalesce("_e", F.lit(False)).alias("exact_dup")))

    # asymmetric LSH candidates
    bn = (_band_rows(sig_n, id_col, n_hashes, bands)
          .withColumnRenamed(id_col, "id_new"))
    be = (_band_rows(sig_e, id_col, n_hashes, bands)
          .withColumnRenamed(id_col, "id_old"))
    ok = (be.groupBy("band", "bhash").agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket).select("band", "bhash"))
    # cand is consumed 4x below (verify join + two semi-join
    # reductions + the final left join); it is contractually tiny (LSH
    # candidates, same broadcast contract as minhash_dedup_pairs'
    # cache). Materialize via EAGER localCheckpoint, not .cache(): the
    # streaming twin calls this once per micro-batch forever, and a
    # cached frame per batch would pin executor storage without bound
    # (checkpoint RDDs are reclaimed by the ContextCleaner when the
    # frame goes out of scope).
    cand = (bn.join(be.join(ok, ["band", "bhash"], "left_semi"),
                    ["band", "bhash"])
              .select("id_new", "id_old").distinct()
              .localCheckpoint(eager=True))

    # exact-Jaccard verify across the two corpora
    rows_n = rows_n_src.select(F.col(id_col).alias("id_new"), "shingle")
    rows_e = rows_e_src.select(F.col(id_col).alias("id_old"), "shingle")
    an = rows_n.join(F.broadcast(cand), "id_new")
    inter = (rows_e.join(an, ["id_old", "shingle"])
                   .groupBy("id_new", "id_old")
                   .agg(F.count("*").alias("inter")))
    # sizes reduced to candidate docs and cached (two narrow columns,
    # one row per candidate doc): without this each consumer re-runs the
    # full shingle pass just to take array sizes.
    zn = (sig_n.select(F.col(id_col).alias("id_new"),
                       F.col("set_size").alias("size_n"))
               .join(F.broadcast(cand.select("id_new").distinct()),
                     "id_new", "left_semi")
               .cache())
    ze = (sig_e.select(F.col(id_col).alias("id_old"),
                       F.col("set_size").alias("size_e"))
               .join(F.broadcast(cand.select("id_old").distinct()),
                     "id_old", "left_semi")
               .cache())
    near_ids = (cand.join(inter, ["id_new", "id_old"], "left")
                    .withColumn("inter", F.coalesce("inter", F.lit(0)))
                    .join(zn, "id_new").join(ze, "id_old")
                    .withColumn("_j", F.col("inter")
                                / (F.col("size_n") + F.col("size_e") - F.col("inter")))
                    .filter(F.col("_j") >= threshold)
                    .select(F.col("id_new").alias(id_col)).distinct()
                    .withColumn("_nd", F.lit(True)))
    return (exact.join(near_ids, id_col, "left")
                 .withColumn("near_dup", F.coalesce("_nd", F.lit(False)))
                 .withColumn("is_kept", ~F.col("exact_dup") & ~F.col("near_dup"))
                 .select(id_col, "exact_dup", "near_dup", "is_kept"))


def sentence_dedup(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   split_re: str = r"[.!?]+",
                   joiner: str = " . ") -> DataFrame:
    """Cross-corpus sentence-level exact dedup with document
    reassembly — the C4-style span-dedup pass (Raffel et al. 2020
    removed repeated three-sentence spans corpus-wide; this is the
    sentence-granularity form): every sentence keeps only its FIRST
    occurrence in (doc, position) order, then each document is rebuilt
    from its surviving sentences in original order.

    Two shuffles at any scale: the sentence-hash Exchange (first-
    occurrence window) and the doc reassembly aggregate — both keyed,
    no data-dependent fan-out. Output: (id, n_sents, n_kept,
    clean_text). ``split_re`` sets the sentence-boundary regex
    (same contract as ops/pipe.sentence_rows).
    """
    parts = F.filter(
        F.transform(F.split(F.col(text_col), split_re),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    sents = (df.select(F.col(id_col), F.posexplode(parts)
                       .alias("sentence_id", "sentence"))
               .withColumn("sentence_id", F.col("sentence_id").cast("long")))
    w = Window.partitionBy(F.md5("sentence")) \
              .orderBy(id_col, "sentence_id")
    kept = (sents.withColumn("_occ", F.row_number().over(w))
                 .withColumn("_keep", F.col("_occ") == 1))
    rebuilt = F.concat_ws(
        joiner,
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("_keep"),
                       F.struct("sentence_id", "sentence")))),
            lambda s: s["sentence"]))
    return (kept.groupBy(id_col)
                .agg(F.count("*").cast("long").alias("n_sents"),
                     F.sum(F.col("_keep").cast("long")).alias("n_kept"),
                     rebuilt.alias("clean_text"))
                .orderBy(id_col))


#: Sentence-boundary regex used on the synthetic fixtures (no
#: punctuation, so frequent filler words act as delimiters — the
#: sentence_dedup 'table' device widened to 7 words so cross-document
#: repeats actually occur). Shared by the boilerplate_strip registered
#: query and the clean-corpus CLI so the two can never diverge.
FIXTURE_SENTENCE_SPLIT = r"[.!?]+|\s+(?:table|row|value|scan|hash|join|key)\s+"


def boilerplate_strip(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", source_col: str = "source",
                      split_re: str = r"[.!?]+",
                      min_docs: int = 3, max_df_ppm: int = 100_000,
                      joiner: str = " . ") -> DataFrame:
    """Per-source boilerplate removal, the CCNet discipline (Wenzek et
    al. 2020 drop paragraphs whose hash repeats across many documents
    of a shard — navigation chrome, cookie banners, license footers):
    a sentence is boilerplate within its SOURCE when it appears in at
    least ``min_docs`` distinct documents AND in more than
    ``max_df_ppm`` ppm of the source's documents; every occurrence is
    dropped (unlike sentence_dedup, which keeps the first) and
    documents are rebuilt from the survivors in original order.

    Scale shape: one map-only sentence explode; the document-frequency
    aggregate is keyed by (source, sentence-hash) with two-phase
    countDistinct; the flag set joins back on the same key (a keyed
    hash join — the flagged set is data-dependent, so no forced
    broadcast; AQE may pick one when it is small); one reassembly
    aggregate per doc. Nothing quadratic, nothing data-dependent
    beyond the flagged-hash set.

    Returns (id, source, n_sents, n_kept, clean_text)."""
    parts = F.filter(
        F.transform(F.split(F.col(text_col), split_re),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    sents = (df.select(F.col(id_col), F.col(source_col),
                       F.posexplode(parts).alias("sentence_id", "sentence"))
               .withColumn("sentence_id", F.col("sentence_id").cast("long"))
               .withColumn("_h", F.md5("sentence")))
    nd = df.groupBy(source_col).agg(
        F.countDistinct(id_col).cast("long").alias("_nd"))
    sdf = (sents.groupBy(source_col, "_h")
                .agg(F.countDistinct(id_col).cast("long").alias("_df")))
    boiler = (sdf.join(nd, source_col)
                 .filter((F.col("_df") >= min_docs)
                         & (F.col("_df") * 1_000_000
                            > max_df_ppm * F.col("_nd")))
                 .select(source_col, "_h", F.lit(True).alias("_boiler")))
    kept = (sents.join(boiler, [source_col, "_h"], "left")
                 .withColumn("_keep", F.col("_boiler").isNull()))
    rebuilt = F.concat_ws(
        joiner,
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("_keep"),
                       F.struct("sentence_id", "sentence")))),
            lambda s: s["sentence"]))
    return (kept.groupBy(id_col, source_col)
                .agg(F.count("*").cast("long").alias("n_sents"),
                     F.sum(F.col("_keep").cast("long")).alias("n_kept"),
                     rebuilt.alias("clean_text"))
                .orderBy(id_col))


# ---------------------------------------------------------------------------
# Weighted (tf-aware) Jaccard near-duplicates
# ---------------------------------------------------------------------------

#: Replica cap for expansion MinHash: a token with tf=t contributes
#: min(t, W_CAP) replicas to the signature multiset. Caps boilerplate
#: amplification (a doc repeating one token 10k times would otherwise
#: dominate its own signature) and bounds the expansion at W_CAP x
#: distinct tokens. The exact rescore uses UNCAPPED tf.
W_CAP = 4


def weighted_token_rows(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, token, tf) — per-doc term frequencies. One linear keyed
    shuffle with map-side partial counts (vs computing tf array-side,
    which is O(doc_len^2) per doc — a cliff for long documents)."""
    return (fan_out(df, id_col)
            .select(F.col(id_col), F.explode(words(text_col)).alias("token"))
            .groupBy(id_col, "token")
            .agg(F.count("*").cast("long").alias("tf")))


def weighted_minhash_signatures(tfrows: DataFrame, id_col: str = "doc_id",
                                n_hashes: int = 16,
                                w_cap: int = W_CAP) -> DataFrame:
    """MinHash over the CAPPED expansion multiset {token#r : r <
    min(tf, w_cap)} — the standard reduction of weighted Jaccard with
    small-integer weights to set Jaccard (each replica is an
    independent set element, so signature collision probability tracks
    the capped weighted Jaccard). Same affine permutations and 28-bit
    md5 hash as the unweighted path, so minhash_candidate_pairs /
    banding reuse verbatim. One keyed shuffle; min() partials combine
    map-side."""
    if w_cap < 1:
        # F.sequence(0, -1) COUNTS DOWN (generates [0, -1]) — a zero
        # cap would silently emit garbage replicas instead of none
        raise ValueError(f"w_cap must be >= 1, got {w_cap}")
    reps = tfrows.withColumn(
        "_r", F.explode(F.sequence(F.lit(0),
                                   F.least(F.col("tf"), F.lit(w_cap)) - 1)))
    h = (F.conv(F.substring(F.md5(F.concat_ws("#", F.col("token"),
                                              F.col("_r").cast("string"))),
                            1, 7), 16, 10).cast("long"))
    reps = reps.withColumn("_h", h)
    aggs = [F.min(F.pmod(F.lit(a) * F.col("_h") + F.lit(b),
                         F.lit(MERSENNE31))).alias(f"s{i}")
            for i, (a, b) in enumerate(minhash_coeffs(n_hashes))]
    return reps.groupBy(id_col).agg(*aggs)


def weighted_jaccard_verify(pairs: DataFrame, tfrows: DataFrame,
                            id_col: str = "doc_id",
                            threshold_ppm: int = 700_000) -> DataFrame:
    """Exact weighted Jaccard on candidate pairs, integer-exact:

        J_w(a, b) = sum_t min(tf_a, tf_b) / sum_t max(tf_a, tf_b)

    with sum max = size_a + size_b - sum min (sizes = total token
    counts), reported as ppm via floor division (tie-free, engine-
    portable). Only the COMPACT tables broadcast (pairs = two ints per
    row, sizes semi-joined to pair ids); the pairs-joined tf rows are
    NOT broadcast — weighted banding fires on tf mass, so its
    candidate×token fan-out can reach GBs where the unweighted path's
    stays tiny (measured: >1 GiB at sf1 — a driver OOM as a broadcast).
    The intersection join shuffles on (id_b, token): linear, keyed,
    AQE still converts it back to broadcast when it IS small."""
    sizes = tfrows.groupBy(id_col).agg(F.sum("tf").cast("long").alias("wsize"))
    ra = tfrows.select(F.col(id_col).alias("id_a"), "token",
                       F.col("tf").alias("tf_a"))
    rb = tfrows.select(F.col(id_col).alias("id_b"), "token",
                       F.col("tf").alias("tf_b"))
    a_rows = ra.join(F.broadcast(pairs), "id_a")
    inter = (rb.join(a_rows, ["id_b", "token"])
               .groupBy("id_a", "id_b")
               .agg(F.sum(F.least("tf_a", "tf_b")).cast("long").alias("inter")))
    za = (sizes.select(F.col(id_col).alias("id_a"), F.col("wsize").alias("size_a"))
               .join(F.broadcast(pairs.select("id_a").distinct()), "id_a", "left_semi"))
    zb = (sizes.select(F.col(id_col).alias("id_b"), F.col("wsize").alias("size_b"))
               .join(F.broadcast(pairs.select("id_b").distinct()), "id_b", "left_semi"))
    return (pairs.join(inter, ["id_a", "id_b"], "left")
                 .withColumn("inter", F.coalesce("inter", F.lit(0)))
                 .join(F.broadcast(za), "id_a").join(F.broadcast(zb), "id_b")
                 .withColumn("wjac_ppm",
                             F.expr("(inter * 1000000) div "
                                    "(size_a + size_b - inter)"))
                 .filter(F.col("wjac_ppm") >= threshold_ppm)
                 .select("id_a", "id_b", "wjac_ppm"))


def weighted_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n_hashes: int = 16,
                           bands: int = 4, threshold_ppm: int = 700_000,
                           w_cap: int = W_CAP,
                           cache_candidates: bool = True) -> DataFrame:
    """End-to-end tf-weighted near-dup pipeline: tf rows -> capped-
    expansion MinHash -> LSH banding (reused verbatim) -> exact
    weighted-Jaccard rescore. Returns (id_a, id_b, wjac_ppm).

    Why weighted: set Jaccard treats 'spam spam spam buy now' and a
    long document mentioning 'spam' once as similar as their VOCAB
    overlap; weighted Jaccard scores by term-frequency mass, the
    dedup semantics used when repetitive boilerplate dominates a
    corpus. Two linear keyed shuffles + the banded bucket shuffle —
    the same scale shape as the unweighted flagship."""
    tfrows = weighted_token_rows(df, id_col, text_col)
    sigs = weighted_minhash_signatures(tfrows, id_col, n_hashes, w_cap)
    cand = minhash_candidate_pairs(sigs, id_col, n_hashes, bands)
    if cache_candidates:
        cand = cand.localCheckpoint(eager=False)
    return weighted_jaccard_verify(cand, tfrows, id_col, threshold_ppm)
